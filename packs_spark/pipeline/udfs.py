"""The pipeline's labeling kernels over the broadcast models + scrub, and
the one Arrow batch function that labels a batch with them.

Pattern (mandated by BASELINE.json input_hint): models are built ONCE on
the driver, shipped via ``sc.broadcast``, and materialized lazily in the
Python worker — one deserialization per worker process, then every Arrow
batch is scored with a single vectorized call.  No per-row Python at the
Spark layer, and none in the kernels for an ASCII document: they read
the batch's buffers through Arrow compute and numpy, and only documents
whose Python string semantics Arrow cannot reproduce (non-ASCII text,
the 0x1C-0x1F separators) are read as Python strings.

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
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from packs_spark.ml.ngram import text_array, utf8_buffers
from packs_spark.pipeline.rules import STOPWORDS

_SYM_RE = _re.compile(r"[^A-Za-z0-9\s]")
# Per byte: 1 where _SYM_RE matches it as an ASCII character, _ROUTE where
# a document holding it needs Python strings for its words — any
# non-ASCII byte, and the separators 0x1C-0x1F, on which ``str.split()``
# splits and Arrow's ``ascii_split_whitespace`` does not.  A
# ``bytes.translate`` table: it maps a buffer in one C pass, where
# ``np.take`` first widens every byte to an intp index.
_ROUTE = 2
_BYTE_CLASS = bytes(
    _ROUTE if b >= 0x80 or 0x1C <= b < 0x20 else int(bool(_SYM_RE.match(chr(b))))
    for b in range(256)
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


def _segment_reduce(ufunc, values, bounds, dtype=None) -> np.ndarray:
    """``ufunc.reduceat`` of ``values`` over each segment
    ``[bounds[i], bounds[i + 1])`` (``bounds[-1] == len(values)``); an
    empty segment reads 0.  It holds no values, so each non-empty
    segment's reduceat ends where the next non-empty one starts."""
    out = np.zeros(len(bounds) - 1, dtype=dtype or values.dtype)
    nonempty = bounds[1:] > bounds[:-1]
    if nonempty.any():
        out[nonempty] = ufunc.reduceat(values, bounds[:-1][nonempty], dtype=dtype)
    return out


def _ascii_word_counts(arr, stop_set) -> tuple[np.ndarray, ...]:
    """(n_words, stopword hits, distinct words) of each document of an
    ASCII string array without 0x1C-0x1F bytes, where ``str.split()`` of
    ``str.lower()`` is Arrow's ``ascii_split_whitespace`` of
    ``ascii_lower`` minus the empty tokens it keeps at leading and
    trailing whitespace.  Words are dictionary codes: stopword and
    non-empty flags come once per distinct word and are gathered by code
    and summed per document over the list offsets; distinct words are the
    first occurrences of ``row × n_vocab + code`` in sorted order, which
    keeps each document's n_words keys together, in row order."""
    tokens = pc.ascii_split_whitespace(pc.ascii_lower(arr))
    lo = tokens.offsets.to_numpy()
    words = tokens.flatten().dictionary_encode()
    vocab, code = words.dictionary, words.indices.to_numpy()
    is_word = pc.binary_length(vocab).to_numpy() > 0
    is_stop = pc.is_in(vocab, value_set=pa.array(list(stop_set), pa.string()))
    is_stop = is_stop.to_numpy(zero_copy_only=False) & is_word
    keep = is_word[code]
    n_words = _segment_reduce(np.add, keep, lo, np.int64)
    stop_hits = _segment_reduce(np.add, is_stop[code], lo, np.int64)
    row = np.repeat(np.arange(len(arr)), np.diff(lo))[keep]
    n_vocab = len(vocab)
    # int32 keys sort twice as fast as int64 ones
    dtype = np.int32 if len(arr) * n_vocab < 2**31 else np.int64
    key = np.sort(row.astype(dtype) * dtype(n_vocab) + code[keep].astype(dtype))
    first = np.ones(len(key), dtype=bool)
    np.not_equal(key[1:], key[:-1], out=first[1:])
    by_row = np.concatenate([[0], np.cumsum(n_words)])
    return n_words, stop_hits, _segment_reduce(np.add, first, by_row, np.int64)


def _heuristic_batch(texts, stop_set):
    """Quality-signal arrays for one batch (an Arrow string array, or a
    list, see ``ngram.text_array``), Python-string semantics (identical to
    tests/pandas_oracle.heuristics_oracle — str.split() on unicode
    whitespace, Python-re symbol class, words looked up in ``stop_set``).
    ``n_chars`` is Arrow's ``utf8_length``.  One ``_BYTE_CLASS`` pass over
    the data buffer gives each document's ASCII symbol count and whether
    it routes to Python; the other documents' words come from Arrow
    (``_ascii_word_counts``).  A routed document keeps one
    ``t.lower().split()`` and ``_SYM_RE.findall``.  Moved here from JVM
    Column expressions: the split/array_distinct/isin chain cost more JVM
    time than this whole kernel, and Python semantics make the keep/drop
    parity with the oracle exact instead of F1≈1."""
    arr = text_array(texts)
    isnull = arr.is_null().to_numpy(zero_copy_only=False)
    if arr.null_count:
        arr = arr.fill_null("")
    off, data = utf8_buffers(arr)
    n_chars = pc.utf8_length(arr).to_numpy().astype(np.int64)
    cls = np.frombuffer(data.tobytes().translate(_BYTE_CLASS), np.uint8)
    n_sym = _segment_reduce(np.add, cls, off, np.int64)
    routed = _segment_reduce(np.maximum, cls, off) == _ROUTE
    n_words = np.zeros(len(arr), dtype=np.int64)
    stop_hits, n_distinct = n_words.copy(), n_words.copy()

    def take(rows):
        return arr if len(rows) == len(arr) else arr.take(rows)

    rows = np.flatnonzero(~routed)
    if len(rows):
        counts = _ascii_word_counts(take(rows), stop_set)
        n_words[rows], stop_hits[rows], n_distinct[rows] = counts
    rows = np.flatnonzero(routed)
    if len(rows):
        tl = take(rows).to_pylist()
        n_sym[rows] = [len(_SYM_RE.findall(t)) for t in tl]
        counts = [
            (len(ws), sum(map(stop_set.__contains__, ws)), len(set(ws)))
            for ws in (t.lower().split() for t in tl)
        ]
        n_words[rows], stop_hits[rows], n_distinct[rows] = np.array(counts).T
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
