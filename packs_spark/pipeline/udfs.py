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
import pyarrow.compute as pc
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from packs_spark.ml.ngram import text_array, utf8_buffers
from packs_spark.pipeline.rules import STOPWORDS

_SYM_RE = _re.compile(r"[^A-Za-z0-9\s]")
# _SYM_RE's verdict on each byte read as a character (exact for ASCII)
_SYM_BYTE = np.array(
    [_SYM_RE.match(chr(b)) is not None for b in range(256)], dtype=np.uint8
)
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


def _heuristic_batch(texts, stop_set):
    """Quality-signal arrays for one batch (an Arrow string array, or a
    list, see ``ngram.text_array``), Python-string semantics (identical to
    tests/pandas_oracle.heuristics_oracle — str.split() on unicode
    whitespace, Python-re symbol class).  ``n_chars`` is Arrow's
    ``utf8_length``; an ASCII document's symbol count is a sum of
    ``_SYM_BYTE`` over its bytes, the rest keep ``_SYM_RE.findall``; words
    are one C-level lower+split per document.  Moved here from JVM Column
    expressions: the split/array_distinct/isin chain cost more JVM time
    than this whole kernel, and Python semantics make the keep/drop parity
    with the oracle exact instead of F1≈1."""
    arr = text_array(texts)
    isnull = arr.is_null().to_numpy(zero_copy_only=False)
    if arr.null_count:
        arr = arr.fill_null("")
    off, data = utf8_buffers(arr)
    n_chars = pc.utf8_length(arr).to_numpy().astype(np.int64)
    n_sym = np.zeros(len(arr), dtype=np.int64)
    # an empty document holds no bytes, so each non-empty document's
    # reduceat segment ends where the next non-empty one starts
    nonempty = off[1:] > off[:-1]
    if nonempty.any():
        n_sym[nonempty] = np.add.reduceat(
            np.take(_SYM_BYTE, data), off[:-1][nonempty], dtype=np.int64
        )
    tl = arr.to_pylist()
    # a document is ASCII when it has as many characters as bytes
    for i in np.flatnonzero(n_chars != np.diff(off)):
        n_sym[i] = len(_SYM_RE.findall(tl[i]))
    words = (t.lower().split() for t in tl)
    counts = [
        (len(ws), sum(map(stop_set.__contains__, ws)), len(set(ws))) for ws in words
    ]
    n_words, stop_hits, n_distinct = np.array(counts, dtype=np.int64).reshape(-1, 3).T
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


def enrich_signals(texts, tables: np.ndarray, langs: list[str]) -> dict:
    """Every ``SIGNALS`` column of one batch of texts (an Arrow string
    array, or a list), by name, in order: langid + perplexity, scrub and
    the heuristic signals (one kernel call each over the whole batch)."""
    from packs_spark.ml.ngram import fused_predict
    from packs_spark.pipeline.scrub import scrub_batch

    arr = text_array(texts)
    idx, margin, ppl = fused_predict(arr, tables, len(langs))
    scrubbed, spans = scrub_batch(arr)
    n_chars, n_words, sym_r, stop_r, dist_r, _ = _heuristic_batch(arr, _STOP_SET)
    return {
        # idx -1 (no trigram) picks the trailing "unknown"
        "lang_pred": np.array([*langs, "unknown"], dtype=object)[idx],
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
        sig = enrich_signals(rb.column("text"), tables, langs)
        keep_h = heuristic_keep(sig.__getitem__)
        keep = (
            keep_h
            & (sig["lang_pred"] != "unknown")
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
