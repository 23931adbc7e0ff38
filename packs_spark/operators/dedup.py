"""Deduplication operators for training-data pipelines.

Five tiers, all expressed Spark-first:

* **exact** — hash-groupBy on the full text (one shuffle of 16-byte keys,
  never of the documents themselves);
* **n-gram Jaccard** — shingle → explode → self-join on shingle → count
  intersections; document-frequency capping keeps hot shingles from
  exploding the join at web scale;
* **MinHash + LSH** — each shingle hashed once by JVM xxhash64, the
  ``n_hashes`` families derived by a multiply-add remix min-reduced in a
  numpy pandas UDF; banding turns near-dup search into an equi-join on
  (band, band_hash), which Spark shuffles/broadcasts like any other join;
* **SimHash** — 64-bit bit-majority fingerprint over xxhash64 token
  hashes, folded by a JVM groupBy of 64 conditional sums; hamming-distance
  candidates via an equi-join on 4×16-bit chunks;
* **embedding cosine** — all pairs, or the pairs that share a
  random-hyperplane bucket, scored by exact cosine.

The candidate keys, keyed self-joins and payload attach are the pair
layer's (``operators/pairs.py``); this module holds the shingling and the
pair scores (set Jaccard, cosine).

Scale notes: every tier but the all-pairs cosine reduces the pairwise
O(N²) problem to an equi-join keyed on something shuffle-friendly (hash,
shingle, band, chunk, bucket).  The only quadratic step left is *within*
a key group, bounded by ``max_df`` / band width.  Skewed buckets
(boilerplate shingles) are dropped by document-frequency capping exactly
like hot-host salting in the pipeline.
"""


from __future__ import annotations

import logging

import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from packs_spark.operators.pairs import attach, candidates, keys, self_join

_LOG = logging.getLogger("packs_spark.operators.dedup")


# ---------------------------------------------------------------------------
# exact
# ---------------------------------------------------------------------------


def exact_dup_summary(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(n_docs, n_unique_texts, dup_docs, dup_ratio) via md5-groupBy."""
    g = df.groupBy(F.md5(F.col(text_col)).alias("h")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return g.agg(
        F.sum("cnt").alias("n_docs"),
        F.count(F.lit(1)).alias("n_unique_texts"),
        F.sum(F.col("cnt") - 1).alias("dup_docs"),
        F.round(F.sum(F.col("cnt") - 1) / F.sum("cnt"), 4).alias("dup_ratio"),
    )


# ---------------------------------------------------------------------------
# shingling (shared by Jaccard / MinHash)
# ---------------------------------------------------------------------------


def char_shingles(c: F.Column, k: int = 5) -> F.Column:
    """Distinct character k-grams of ``c`` (empty array when len < k) —
    built with sequence+transform so it stays inside codegen."""
    n = F.length(c) - (k - 1)
    return F.when(n <= 0, F.array().cast("array<string>")).otherwise(
        F.array_distinct(
            F.transform(F.sequence(F.lit(1), n), lambda i: F.substring(c, i, k))
        )
    )


def word_shingles(c: F.Column, k: int = 3) -> F.Column:
    """Distinct word k-grams (space-joined).  The word array is bound once,
    as the argument of a one-element ``aggregate``: a lambda that referred
    to ``split(trim(c))`` itself would re-split the text once per k-gram."""

    def kgrams(_, w):
        n = F.size(w) - (k - 1)
        return F.when(n <= 0, F.array(F.array_join(w, " "))).otherwise(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(0), n - 1),
                    lambda i: F.array_join(F.slice(w, i + 1, k), " "),
                )
            )
        )

    empty = F.array().cast("array<string>")
    return F.when(F.trim(c) == "", empty).otherwise(
        F.aggregate(F.array(F.split(F.trim(c), r"\s+")), empty, kgrams)
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard
# ---------------------------------------------------------------------------


def hot_shingles(
    df: DataFrame,
    text_col: str = "text",
    k: int = 5,
    max_df: int | None = 1000,
) -> DataFrame:
    """Shingles with document frequency > ``max_df`` — the ones
    :func:`jaccard_pairs` drops.  Exposed separately so callers can count
    or inspect drops without forcing the pair plan to run jobs at
    construction time."""
    ex = _elements(df.select(char_shingles(F.col(text_col), k).alias("sh")))
    return (
        ex.groupBy("s")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") > max_df)
        .select("s")
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    threshold: float = 0.5,
    max_df: int | None = 1000,
) -> DataFrame:
    """Near-duplicate pairs with exact shingle-Jaccard ≥ threshold.

    Plan: shingle → explode (one row per (doc, shingle)) →
    document-frequency cap → :func:`_set_jaccard`.  Output columns:
    (id_a, id_b, inter, size_a, size_b, jaccard), id_a < id_b.

    ``max_df`` defaults ON (1000): at web scale a single boilerplate
    shingle makes the self-join quadratic, exactly like a hot key in a
    skewed groupBy.  Set sizes are computed AFTER the cap, so the result
    is the *exact* Jaccard over the capped shingle space — numerator and
    denominator agree (a cap applied to intersections only would
    systematically underestimate and miss true pairs at the threshold).
    Pass ``max_df=None`` for exact full-space Jaccard.
    """
    sh = df.select(
        F.col(id_col).alias("id"),
        char_shingles(F.col(text_col), k).alias("sh"),
    )
    ex = _elements(sh.withColumn("size", F.size("sh")))
    if max_df is not None:
        # stays fully lazy: no persist (a pinned cache entry would leak
        # for the session lifetime) and no eager count (constructing the
        # pair PLAN must not run jobs).  Dropped-shingle stats on demand:
        #   hot_shingles(df, ...).count()
        hot = hot_shingles(df, text_col=text_col, k=k, max_df=max_df)
        ex = ex.join(F.broadcast(hot), "s", "left_anti").withColumn(
            "size", F.count(F.lit(1)).over(Window.partitionBy("id"))
        )
    return _set_jaccard(ex).where(F.col("jaccard") >= threshold)


def word_jaccard_pairs(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 3
) -> DataFrame:
    """(id_a, id_b, inter, size_a, size_b, jaccard) of every pair of
    documents sharing at least one word k-gram, over the sets of
    :func:`_word_sets` (no document-frequency cap, no threshold)."""
    sets = _word_sets(df, id_col, text_col, k)
    return _set_jaccard(_elements(sets))


def _word_sets(df: DataFrame, id_col: str, text_col: str, k: int) -> DataFrame:
    """(id, sh, size): the distinct word-k-gram set of every document with
    non-blank text and at least ``k`` words."""
    t = F.col(text_col)
    return (
        df.where(F.trim(t) != "")
        .where(F.size(F.split(F.trim(t), r"\s+")) >= k)
        .select(F.col(id_col).alias("id"), word_shingles(t, k).alias("sh"))
        .withColumn("size", F.size("sh"))
    )


def _elements(sets: DataFrame) -> DataFrame:
    """``sets`` with its shingle array ``sh`` replaced by one row per
    element ``s``.  ``explode_outer`` plus a filter on the element, not
    ``explode``: from an inner explode Spark infers ``size(sh) > 0 AND
    isnotnull(sh)`` and pushes it below the projection that builds ``sh``,
    so the scan's Filter would build every set twice more.  No set holds a
    null, so the rows are those of ``explode``."""
    cols = [c for c in sets.columns if c != "sh"]
    return sets.select(*cols, F.explode_outer("sh").alias("s")).where(
        F.col("s").isNotNull()
    )


def _jaccard(inter: Column, size_a: Column, size_b: Column) -> Column:
    """|A∩B| / |A∪B| from the intersection and set sizes, rounded to 6."""
    return F.round(inter / (size_a + size_b - inter), 6)


def _set_jaccard(ex: DataFrame) -> DataFrame:
    """(id_a, id_b, inter, size_a, size_b, jaccard) of every pair of sets
    sharing an element, from an exploded (id, size, s) frame that carries
    each set's size on its elements: a self-equi-join on the element,
    then one count per pair."""
    pairs = (
        self_join(ex, ["s"], ["size"])
        .groupBy("id_a", "id_b", "size_a", "size_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return pairs.select(
        "id_a", "id_b", "inter", "size_a", "size_b",
        _jaccard(F.col("inter"), F.col("size_a"), F.col("size_b")).alias("jaccard"),
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    n_hashes: int = 64,
) -> DataFrame:
    """(id, sig: array<bigint>) — sig[j] = min over shingles of
    xxhash64(j, shingle).  Seeding by prepending the hash index gives
    n_hashes independent hash families from the one xxhash64 primitive;
    everything runs inside whole-stage codegen.
    """
    # Materialize the shingle array once per row (its own projection), then
    # hash each shingle ONCE (JVM xxhash64 over strings — the expensive,
    # codegen-friendly part) and derive the j-th family as a multiply-add
    # universal remix a_j*h + b_j over wrapping 64-bit arithmetic, min-
    # reduced per family.  The remix runs in a numpy pandas UDF: one
    # IMUL+ADD per (shingle, family) — ~10× cheaper than the previous 64
    # extra xxhash64 rounds per shingle, and wrapping multiplication is
    # exactly what ANSI-mode Spark SQL (4.x default) refuses to express
    # JVM-side.  The strong mixing already happened in xxhash64(s); the
    # remix only needs pairwise independence.
    shingled = df.select(
        F.col(id_col).alias("id"),
        char_shingles(F.col(text_col), k).alias("sh"),
    ).where(F.size("sh") > 0)
    return signatures_from_shingles(shingled, n_hashes)


def signatures_from_shingles(sh_df: DataFrame, n_hashes: int = 64) -> DataFrame:
    """(id, sig) from a prepared (id, sh: array<string>) frame — lets a
    caller that already materialized shingle arrays (e.g. for exact
    verification of LSH candidates) reuse them instead of re-shingling."""
    import numpy as np

    hashed = sh_df.select(
        "id", F.transform("sh", lambda s: F.xxhash64(s)).alias("hs")
    )
    # deterministic per-family constants (splitmix64/golden-ratio odd mults)
    A = (0x9E3779B97F4A7C15 * (2 * np.arange(n_hashes, dtype=np.uint64) + 1))
    B = (0xBF58476D1CE4E5B9 * (np.arange(n_hashes, dtype=np.uint64) + 1))
    A = A.astype(np.uint64)[:, None]
    B = B.astype(np.uint64)[:, None]

    @F.pandas_udf("array<bigint>")
    def remix_min(hs: pd.Series) -> pd.Series:
        out = []
        for lst in hs:
            h = np.asarray(lst, dtype=np.int64).view(np.uint64)[None, :]
            sig = (A * h + B).min(axis=1).view(np.int64)
            out.append(sig.tolist())
        return pd.Series(out)

    return hashed.select("id", remix_min("hs").alias("sig"))


def lsh_verified_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    threshold: float = 0.8,
    n_hashes: int = 64,
    bands: int = 32,
) -> DataFrame:
    """Scale-tier EXACT near-dup pairs: MinHash-LSH candidate generation
    followed by exact word-shingle Jaccard verification computed only on
    the candidate list — (id_a, id_b, j) with j >= threshold.

    This is the two-tier architecture a 100 TB dedup actually runs: the
    all-pairs shingle equi-join (the quadratic step of ``jaccard_pairs``)
    is replaced by band-bucket equi-joins on 8-byte keys, and the
    expensive exact intersection (``array_intersect`` on full shingle
    arrays) is computed per *candidate* pair, whose count is ~linear in
    the number of true near-dups.

    Exactness: verification uses the same word-k-gram sets as
    ``jaccard_pairs``, so any candidate pair gets its true j; the only
    possible divergence from the exact tier is a missed candidate.  With
    r = n_hashes/bands rows per band, P(candidate | j) = 1-(1-j^r)^bands;
    the defaults (r=2, b=32) give 1 - 1.2e-14 at j = 0.8 — vanishing at
    and above any realistic near-dup clustering threshold (use the exact
    tier for exploratory thresholds below ~0.5, where the S-curve decays).
    The pipeline is fully deterministic (fixed xxhash64 remix constants),
    so a given corpus always yields the same pair set.
    """
    rows_per_band = n_hashes // bands
    # reused by the signatures AND both sides of the verify join
    sh = _word_sets(df, id_col, text_col, shingle_k).persist()
    sigs = signatures_from_shingles(sh.select("id", "sh"), n_hashes)
    cand = lsh_candidate_pairs(sigs, bands, rows_per_band)
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    verified = (
        attach(cand, sh, ["sh", "size"])
        .select("id_a", "id_b",
                _jaccard(inter, F.col("size_a"), F.col("size_b")).alias("j"))
        .where(F.col("j") >= threshold)
    )
    # Materialize the (tiny, ~linear-in-true-dups) pair list while the
    # shingle cache is warm, then RELEASE the big cache entry: returning a
    # lazy frame over a still-persisted corpus-sized frame would pin it
    # for the session lifetime (the leak jaccard_pairs documents).  The
    # pairs stay persisted for the caller's reuse; unpersisting them is
    # the caller's choice (dedup pair lists are driver-collectable).
    verified = verified.persist()
    verified.count()
    sh.unpersist()
    return verified


def lsh_candidate_pairs(
    sig_df: DataFrame, bands: int = 16, rows_per_band: int = 4
) -> DataFrame:
    """Candidate pairs: docs sharing any (band, hash-of-band-slice) key.

    One explode (docs × bands rows) + one self-equi-join on the band key.
    With b bands of r rows the match probability is 1-(1-s^r)^b — the
    standard S-curve; b=16, r=4 centers near s≈0.5.
    """
    bandified = keys(
        sig_df.select("id", "sig"),
        ("band", "bh"),
        [
            F.xxhash64(
                *[F.col("sig")[bi * rows_per_band + ri] for ri in range(rows_per_band)]
            )
            for bi in range(bands)
        ],
    )
    return candidates(bandified.select("id", "band", "bh"), ["band", "bh"])


def minhash_estimates(
    sigs: DataFrame, bands: int = 16, rows_per_band: int = 4
) -> DataFrame:
    """(id_a, id_b, est_jaccard) of every LSH candidate pair of the
    ``(id, sig)`` minhash signatures: the fraction of agreeing minhashes
    estimates the pair's Jaccard similarity."""
    cand = lsh_candidate_pairs(sigs, bands, rows_per_band)
    agree = F.size(
        F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda eq: eq)
    )
    return attach(cand, sigs, ["sig"]).select(
        "id_a", "id_b", (agree / F.size("sig_a")).alias("est_jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 64


def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, simhash: bigint) — bit-majority over xxhash64 of word tokens.

    Token hashing happens JVM-side (explode + xxhash64); the bit-majority
    fold is a groupBy with 64 conditional sums — still no Python.
    """
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("tok"),
    ).where(F.col("tok") != "")
    h = toks.select("id", F.xxhash64("tok").alias("h"))
    bit_sums = h.groupBy("id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1)
                .otherwise(-1)
            ).alias(f"b{b}")
            for b in range(SIMHASH_BITS)
        ]
    )
    fp = None
    for b in range(SIMHASH_BITS):
        bit = F.when(F.col(f"b{b}") > 0, F.lit(1).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        term = F.shiftleft(bit, b)
        fp = term if fp is None else fp.bitwiseXOR(term)
    return bit_sums.select("id", fp.alias("simhash"))


def simhash_candidates(fp_df: DataFrame, chunk_bits: int = 16) -> DataFrame:
    """Hamming-near pairs: docs agreeing on ≥1 of the 64/chunk_bits chunks
    (guarantees recall for hamming distance < number of chunks)."""
    n_chunks = SIMHASH_BITS // chunk_bits
    mask = (1 << chunk_bits) - 1
    chunks = keys(
        fp_df.select("id", "simhash"),
        ("chunk", "v"),
        [
            F.shiftright(F.col("simhash"), i * chunk_bits).bitwiseAND(F.lit(mask))
            for i in range(n_chunks)
        ],
    )
    return candidates(chunks, ["chunk", "v"])


def hamming_distance(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


# ---------------------------------------------------------------------------
# embedding cosine near-dup
# ---------------------------------------------------------------------------


def cosine_pairs(
    emb_df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """(id_a, id_b, cosine) of EVERY pair of vectors, id_a < id_b, cosine
    rounded to 6 digits: the brute-force O(N²) pair list (a nested-loop
    join), correct at any scale but quadratic."""
    return _cosine_scored(self_join(_vectors(emb_df, id_col, vec_col), [], ["v"]))


def _vectors(emb_df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    return emb_df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))


def _cosine_scored(pairs: DataFrame) -> DataFrame:
    """(id_a, id_b, cosine) of a pair frame carrying both vectors as
    (v_a, v_b), cosine rounded to 6 digits."""
    from packs_spark.operators.similarity import cosine

    return pairs.select(
        "id_a", "id_b",
        F.round(cosine(F.col("v_a"), F.col("v_b")), 6).alias("cosine"),
    )


def embedding_near_dups(
    emb_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
) -> DataFrame:
    """Pairs with cosine ≥ threshold among all pairs (:func:`cosine_pairs`).
    The scale tier is :func:`embedding_near_dups_lsh`, which scores only
    the pairs that share a random-hyperplane bucket."""
    return cosine_pairs(emb_df, id_col, vec_col).where(F.col("cosine") >= threshold)


def embedding_near_dups_lsh(
    emb_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    dim: int = 64,
    n_planes: int = 12,
    n_tables: int = 6,
) -> DataFrame:
    """The 100-TB tier of :func:`embedding_near_dups`: multi-table
    random-hyperplane bucketing → candidate equi-join on (table, bucket) →
    exact cosine verification on candidates only.

    A pair at cosine θ collides in one table with prob
    ``(1 - arccos(θ)/π)^n_planes``; across ``n_tables`` independent
    families the miss probability decays exponentially (recall asserted vs
    the brute-force tier in tests/test_dedup.py).  No all-pairs step: the
    join is keyed on bucket ids (shuffle-friendly), candidate pairs are
    deduped BEFORE vectors are re-attached, so wide embedding arrays cross
    the shuffle once per candidate pair, not once per table."""
    from packs_spark.operators.similarity import bucket_keys

    keyed = bucket_keys(
        emb_df.select(id_col, vec_col), vec_col, dim, n_planes, n_tables
    )
    cand = candidates(
        keyed.select(F.col(id_col).alias("id"), "tbl", "bucket"), ["tbl", "bucket"]
    )
    vecs = _vectors(emb_df, id_col, vec_col)
    return _cosine_scored(attach(cand, vecs, ["v"])).where(
        F.col("cosine") >= threshold
    )


# ---------------------------------------------------------------------------
# near-dup clustering (connected components over the pair list)
# ---------------------------------------------------------------------------


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
    driver_cap: int = 1_000_000,
) -> DataFrame:
    """Cluster labels for a near-dup pair list: every node gets the MIN id
    reachable from it.  Returns (node, label).

    Hash-min label propagation — the simple member of the MapReduce
    connected-components family: each round every node takes the min of
    its own label and its neighbors' labels (one equi-join + groupBy-min
    per round), converging in O(cluster diameter) rounds.  Near-dup
    clusters are dense and tiny in diameter (a dup cluster is almost a
    clique), so this beats the O(log n)-round large-star/small-star
    alternatives on constants.  ``localCheckpoint`` cuts lineage each
    round so the plan does not grow with iterations.

    Adaptive fast path (same pattern as ``ks_2sample``): a pair list with
    ≤ ``driver_cap`` edges is union-found on the driver in one collect —
    each distributed round costs several near-empty jobs of scheduling
    overhead, which dominates wall-clock for the small edge lists real
    near-dup thresholds produce.  The distributed loop is the scale path
    for genuinely huge pair lists."""
    e = pairs.select(
        F.col(id_a).alias("src"), F.col(id_b).alias("dst")
    ).persist()  # persist BEFORE the probe: the fallthrough path must not
    # re-run the (typically expensive self-join) pair plan a second time
    spark = pairs.sparkSession
    n_edges = e.count()
    if n_edges <= driver_cap:
        head = e.collect()
        e.unpersist()
        parent: dict = {}

        def find(x):
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != x:  # path compression
                parent[x], x = root, parent[x]
            return root

        for r in head:
            a, b = find(r["src"]), find(r["dst"])
            if a != b:
                # union by MIN so the final root IS the min id
                lo, hi = (a, b) if a < b else (b, a)
                parent[hi] = lo
        nodes = {v for r in head for v in (r["src"], r["dst"])}
        rows = [(n, find(n)) for n in sorted(nodes)]
        src_type = dict(e.dtypes)["src"]
        return spark.createDataFrame(
            rows, f"node {src_type}, label {src_type}"
        )
    edges = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    edges = edges.persist()
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )
    changed = -1
    for _ in range(max_iter):
        nbr = edges.join(
            labels, edges["dst"] == labels["node"]
        ).select(F.col("src").alias("node"), "label")
        new = (
            nbr.unionByName(labels)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            .localCheckpoint()
        )
        changed = (
            new.alias("n")
            .join(labels.alias("o"), "node")
            .where(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new
        if changed == 0:
            break
    if changed != 0:
        # a component with diameter > max_iter would otherwise be SPLIT
        # silently — surface it (near-dup clusters are near-cliques, so
        # hitting this means the input is not a near-dup pair list)
        _LOG.warning(
            "connected_components did not converge in %d rounds "
            "(%d labels still changing) — labels for long-chain "
            "components are split; raise max_iter",
            max_iter,
            changed,
        )
    edges.unpersist()
    e.unpersist()
    return labels


def dedup_decisions(
    df: DataFrame, labels: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Append the dedup ``keep`` decision: a document survives iff it is in
    no near-dup cluster (no label row) or is its cluster's representative
    (the min id — CC labels ARE min reachable ids).  One left join against
    the label table; labels exist only for docs appearing in ≥1 pair, so
    the build side is the (usually much smaller) near-dup subset — AQE
    broadcasts it when it fits, falls back to a keyed shuffle join when a
    100-TB corpus has billions of near-dups (no unconditional broadcast
    hint here on purpose)."""
    lab = labels.withColumnRenamed("node", id_col)
    return df.join(lab, id_col, "left").withColumn(
        "keep",
        F.col("label").isNull() | (F.col("label") == F.col(id_col)),
    )


def cluster_summary(labels: DataFrame) -> DataFrame:
    """(n_nodes, n_clusters, max_cluster_size) from a CC labeling — the
    dedup decision input (keep one representative per cluster)."""
    sizes = labels.groupBy("label").agg(F.count(F.lit(1)).alias("sz"))
    return sizes.agg(
        F.sum("sz").alias("n_nodes"),
        F.count(F.lit(1)).alias("n_clusters"),
        F.max("sz").alias("max_cluster_size"),
    )
