"""The pipeline's labeling kernels over the broadcast models + scrub, and
the one Arrow batch function that labels a batch with them.

Pattern (mandated by BASELINE.json input_hint): models are built ONCE on
the driver, shipped via ``sc.broadcast``, and materialized lazily in the
Python worker — one deserialization per worker process, then every Arrow
batch is scored with a single vectorized call.  No per-row Python at the
Spark layer.

``make_label_batch`` returns ``label_batch(rb) -> rb``: every signal of the
batch's ``text`` (``enrich_signals``: langid + perplexity, scrub, the
heuristic signals), the one keep rule and ``run_id``, built straight into
Arrow arrays.  ``webtext.label`` applies it with ``mapInArrow``;
``run_batch`` hands it to the lakehouse writer, which applies it inside
each write task, so labeled rows never travel back to the JVM.
``make_enrich_udf`` is the same signals as a pandas UDF; the pipeline does
not call it (perfbench's layer probes time its body).
"""

from __future__ import annotations

import re as _re

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from packs_spark.pipeline.rules import STOPWORDS

_SYM_RE = _re.compile(r"[^A-Za-z0-9\s]")
_STOP_SET = frozenset(STOPWORDS)

# the signal columns of ``enrich_signals``, in output order
SIGNALS = T.StructType(
    [
        T.StructField("lang_pred", T.StringType()),
        T.StructField("lang_margin", T.DoubleType()),
        T.StructField("ppl", T.DoubleType()),
        T.StructField("text_scrubbed", T.StringType()),
        T.StructField(
            "scrub_spans",
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
        T.StructField("pii_hits", T.IntegerType()),
        T.StructField("q_n_chars", T.LongType()),
        T.StructField("q_n_words", T.LongType()),
        T.StructField("q_symbol_ratio", T.DoubleType()),
        T.StructField("q_stopword_ratio", T.DoubleType()),
        T.StructField("q_distinct_ratio", T.DoubleType()),
    ]
)
# the columns ``label_batch`` appends to its input (minus ``text``)
LABELS = T.StructType(
    SIGNALS.fields
    + [
        T.StructField("keep_heuristic", T.BooleanType()),
        T.StructField("keep", T.BooleanType()),
        T.StructField("run_id", T.StringType()),
    ]
)


def _heuristic_batch(tl, stop_set):
    """Quality-signal arrays for one Arrow batch, Python-string semantics
    (identical to tests/pandas_oracle.heuristics_oracle — str.split() on
    unicode whitespace, Python-re symbol class).  One C-level tokenize pass
    per document inside the batch; all arithmetic on numpy arrays.  Moved
    here from JVM Column expressions: the split/array_distinct/isin chain
    cost more JVM time than this whole kernel, and Python semantics make the
    keep/drop parity with the oracle exact instead of F1≈1."""
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


def _broadcast_models(spark: SparkSession):
    """One broadcast: langid tables + perplexity table stacked, so a batch
    scores all of them in a single normalize+codes pass
    (ml.ngram.fused_predict).  Float64: score_batch accumulates in float64
    and asarray's the tables — shipping them as float64 once (still <2 MB)
    makes that a no-op per Arrow batch instead of a copy."""
    from packs_spark.ml.ngram import LangIdModel, PerplexityModel

    langid_model = LangIdModel.train()
    ppl_model = PerplexityModel.train()
    stacked = np.concatenate(
        [langid_model.tables, ppl_model.table[None, :]], axis=0
    ).astype(np.float64)
    return spark.sparkContext.broadcast((stacked, list(langid_model.langs)))


def enrich_signals(tl: list, tables: np.ndarray, langs: list[str]) -> dict:
    """Every ``SIGNALS`` column of one batch of texts, by name, in order:
    langid + perplexity, scrub and the heuristic signals (one kernel call
    each over the whole batch)."""
    from packs_spark.ml.ngram import fused_predict
    from packs_spark.pipeline.scrub import scrub_batch

    idx, margin, ppl = fused_predict(tl, tables, len(langs))
    scrubbed, spans = scrub_batch(tl)
    n_chars, n_words, sym_r, stop_r, dist_r, _ = _heuristic_batch(tl, _STOP_SET)
    return {
        "lang_pred": [langs[i] if i >= 0 else "unknown" for i in idx],
        "lang_margin": margin,
        "ppl": ppl,
        "text_scrubbed": scrubbed,
        "scrub_spans": spans,
        "pii_hits": np.fromiter(map(len, spans), np.int32, len(spans)),
        "q_n_chars": n_chars,
        "q_n_words": n_words,
        "q_symbol_ratio": sym_r,
        "q_stopword_ratio": stop_r,
        "q_distinct_ratio": dist_r,
    }


def make_label_batch(spark: SparkSession, thresholds: dict, run_id: str):
    """The labeling step as one Arrow batch function: ``label_batch(rb)``
    drops ``rb``'s ``text`` column, keeps every other column in order and
    appends the ``LABELS`` columns — the signals, ``keep_heuristic`` =
    ``rules.heuristic_keep`` over them, ``keep`` = that ∧ a known language
    ∧ ``thresholds`` (``min_margin``, ``max_ppl``), and ``run_id``."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    from packs_spark.pipeline.rules import heuristic_keep

    bc = _broadcast_models(spark)
    fields = list(to_arrow_schema(LABELS))
    min_margin, max_ppl = thresholds["min_margin"], thresholds["max_ppl"]

    def label_batch(rb: pa.RecordBatch) -> pa.RecordBatch:
        # Broadcast.value deserializes once per Python worker process and
        # memoizes — that IS the lazy per-executor model load.
        tables, langs = bc.value
        sig = enrich_signals(rb.column("text").to_pylist(), tables, langs)
        keep_h = heuristic_keep(sig.__getitem__)
        keep = (
            keep_h
            & (np.asarray(sig["lang_pred"], dtype=object) != "unknown")
            & (sig["lang_margin"] >= min_margin)
            & (sig["ppl"] <= max_ppl)
        )
        values = [*sig.values(), keep_h, keep]
        rest = [i for i, name in enumerate(rb.schema.names) if name != "text"]
        return pa.RecordBatch.from_arrays(
            [rb.column(i) for i in rest]
            + [pa.array(v, type=f.type) for v, f in zip(values, fields)]
            + [pa.repeat(pa.scalar(run_id, pa.string()), rb.num_rows)],
            schema=pa.schema([rb.schema.field(i) for i in rest] + fields),
        )

    return label_batch


def make_enrich_udf(spark: SparkSession):
    """``enrich_signals`` as a pandas UDF returning a ``SIGNALS`` struct of
    the text column."""
    bc = _broadcast_models(spark)

    @F.pandas_udf(SIGNALS)
    def enrich_udf(texts: pd.Series) -> pd.DataFrame:
        tables, langs = bc.value
        return pd.DataFrame(enrich_signals(texts.tolist(), tables, langs))

    return enrich_udf
