"""The pipeline's one pandas UDF: the fused enrich UDF around the
broadcast models + scrub.

Pattern (mandated by BASELINE.json input_hint): models are built ONCE on
the driver, shipped via ``sc.broadcast``, and materialized lazily inside
the UDF — one deserialization per Python worker process, then every Arrow
batch is scored with a single vectorized call.  No per-row Python at the
Spark layer.
"""

from __future__ import annotations

import re as _re

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_SYM_RE = _re.compile(r"[^A-Za-z0-9\s]")


def _heuristic_batch(tl, stop_set):
    """Quality-signal arrays for one Arrow batch, Python-string semantics
    (identical to tests/pandas_oracle.heuristics_oracle — str.split() on
    unicode whitespace, Python-re symbol class).  One C-level tokenize pass
    per document inside the batch; all arithmetic on numpy arrays.  Moved
    here from JVM Column expressions: the split/array_distinct/isin chain
    cost more JVM time than this whole UDF, and Python semantics make the
    keep/drop parity with the oracle exact instead of F1≈1."""
    import numpy as np

    n = len(tl)
    n_chars = np.zeros(n, dtype=np.int64)
    n_words = np.zeros(n, dtype=np.int64)
    n_sym = np.zeros(n, dtype=np.int64)
    stop_hits = np.zeros(n, dtype=np.int64)
    n_distinct = np.zeros(n, dtype=np.int64)
    isnull = np.zeros(n, dtype=bool)
    for i, t in enumerate(tl):
        if t is None:
            isnull[i] = True
            continue
        n_chars[i] = len(t)
        n_sym[i] = len(_SYM_RE.findall(t))
        ws = t.split()
        n_words[i] = len(ws)
        if ws:
            low = [w.lower() for w in ws]
            stop_hits[i] = sum(1 for w in low if w in stop_set)
            n_distinct[i] = len(set(low))
    with np.errstate(divide="ignore", invalid="ignore"):
        symbol_ratio = np.where(n_chars > 0, n_sym / np.maximum(n_chars, 1), 0.0)
        stopword_ratio = np.where(
            n_words > 0, stop_hits / np.maximum(n_words, 1), 0.0
        )
        distinct_ratio = np.where(
            n_words > 0, n_distinct / np.maximum(n_words, 1), 1.0
        )
    return n_chars, n_words, symbol_ratio, stopword_ratio, distinct_ratio, isnull


def make_enrich_udf(spark: SparkSession):
    """Fused pipeline UDF: one Arrow round-trip of the text column computes
    langid + perplexity + heuristics + scrub together (separate pandas UDFs
    would ship the same strings to Python several times — at 10^12 docs the
    Arrow transfer IS the cost, so the fusion is a ~4× cut of
    Python-boundary traffic).  The heuristic keep rule is NOT applied here:
    ``webtext.label`` applies ``rules.heuristic_keep`` to the returned
    signals in the JVM."""
    import numpy as np

    from packs_spark.ml.ngram import LangIdModel, PerplexityModel

    langid_model = LangIdModel.train()
    ppl_model = PerplexityModel.train()
    # one broadcast: langid tables + perplexity table stacked, so the UDF
    # scores all of them in a single normalize+codes pass (ml.ngram.
    # fused_predict)
    # broadcast float64: score_batch accumulates in float64 and asarray's
    # the tables — shipping them as float64 once (still <2 MB) makes that
    # a no-op per Arrow batch instead of a copy
    stacked = np.concatenate(
        [langid_model.tables, ppl_model.table[None, :]], axis=0
    ).astype(np.float64)
    bc = spark.sparkContext.broadcast((stacked, list(langid_model.langs)))

    schema = T.StructType(
        [
            T.StructField("lang", T.StringType()),
            T.StructField("margin", T.DoubleType()),
            T.StructField("ppl", T.DoubleType()),
            T.StructField("scrubbed", T.StringType()),
            T.StructField(
                "spans",
                T.ArrayType(
                    T.StructType(
                        [
                            T.StructField("kind", T.StringType()),
                            T.StructField("start", T.IntegerType()),
                            T.StructField("end", T.IntegerType()),
                        ]
                    )
                ),
            ),
            T.StructField("n_hits", T.IntegerType()),
            T.StructField("n_chars", T.LongType()),
            T.StructField("n_words", T.LongType()),
            T.StructField("symbol_ratio", T.DoubleType()),
            T.StructField("stopword_ratio", T.DoubleType()),
            T.StructField("distinct_ratio", T.DoubleType()),
        ]
    )

    from packs_spark.pipeline.rules import STOPWORDS

    stop_set = frozenset(STOPWORDS)

    @F.pandas_udf(schema)
    def enrich_udf(texts: pd.Series) -> pd.DataFrame:
        from packs_spark.ml.ngram import fused_predict
        from packs_spark.pipeline.scrub import scrub_batch

        # Broadcast.value deserializes once per Python worker process and
        # memoizes — that IS the lazy per-executor model load.  (An extra
        # cache keyed by id(bc) collided when CPython reused object
        # addresses across batches — do not reintroduce one.)
        tables, langs = bc.value
        tl = texts.tolist()
        idx, margin, ppl = fused_predict(tl, tables, len(langs))
        labels = [langs[i] if i >= 0 else "unknown" for i in idx]
        scrubbed, spans = scrub_batch(tl)
        n_chars, n_words, sym_r, stop_r, dist_r, _ = _heuristic_batch(
            tl, stop_set
        )
        return pd.DataFrame(
            {
                "lang": labels,
                "margin": margin,
                "ppl": ppl,
                "scrubbed": scrubbed,
                "spans": spans,
                "n_hits": [len(s) for s in spans],
                "n_chars": n_chars,
                "n_words": n_words,
                "symbol_ratio": sym_r,
                "stopword_ratio": stop_r,
                "distinct_ratio": dist_r,
            }
        )

    return enrich_udf
