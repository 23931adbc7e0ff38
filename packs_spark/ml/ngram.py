"""Character-trigram models: language ID + perplexity, fully vectorized.

Design (public fastText/KenLM ideas re-expressed for the 27-symbol ASCII
alphabet {a..z, space}):

* a model is a dense ``float32[27^3]`` table of log-probabilities per
  language (Laplace-smoothed trigram LM over normalized text);
* scoring a *batch* of documents is pure numpy over the batch's Arrow
  string column, read in place: the data buffer (every document's UTF-8
  bytes, back to back) is byte-mapped to symbols and rolled into one
  trigram code per byte position, and the offsets buffer gives each
  document's segment ``[start, end - 2)`` — exactly the windows that lie
  inside it — for ``np.add.reduceat``.  No per-document ``encode``, no
  separator bytes between documents.  A batch is scored a slice of
  documents at a time (about ``SLICE_BYTES`` of UTF-8), so the per-byte
  codes and gathers stay cache-sized;
* a window holding a NUL byte is invalid: NUL maps past every code, so
  its window is clamped to index ``N_CODES``, a zero column padded onto
  the tables — the gather needs no ``np.where`` mask;
* inside Spark the tables ride a broadcast variable and are materialized
  once per executor (lazy init inside the pandas UDF), so Arrow batches
  stream through a single vectorized scoring call.

At 10^12 docs the model is a few hundred KB broadcast once — negligible
against the Arrow traffic, which is the actual bottleneck knob
(``spark.sql.execution.arrow.maxRecordsPerBatch``).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

ALPHABET = 27  # a..z + space
N_CODES = ALPHABET**3

# byte value -> symbol id (0..26), everything non-alpha collapses to space
# (langid over this alphabet is ASCII-transliteration based by
# construction); NUL maps to N_CODES, so every window holding one codes
# past the table and is clamped onto the zero column (``_window_codes``)
_BYTE_MAP = np.zeros(256, dtype=np.int32)
for i in range(256):
    c = chr(i).lower()
    _BYTE_MAP[i] = (ord(c) - ord("a") + 1) if "a" <= c <= "z" else 0
_BYTE_MAP[0] = N_CODES


def text_array(texts) -> pa.Array:
    """``texts`` as an Arrow string array: an Arrow array passes through
    as is, a list is converted.  Arrow cannot hold a lone surrogate, so a
    list holding one is converted as ``str.encode(errors="replace")``
    would encode it (each lone surrogate becomes ``?``)."""
    if isinstance(texts, pa.Array):
        return texts
    try:
        return pa.array(texts, type=pa.string())
    except UnicodeEncodeError:
        return pa.array(
            [None if t is None else t.encode("utf-8", "replace").decode("utf-8")
             for t in texts],
            type=pa.string(),
        )


def utf8_buffers(arr: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """(offsets, data) of a string array as numpy views of its buffers:
    ``offsets`` (intp, rebased to 0, one more entry than ``arr``) and the
    bytes of document ``i`` are ``data[offsets[i]:offsets[i + 1]]``.  A
    null reads as an empty document."""
    if arr.null_count:
        arr = arr.fill_null("")
    width = np.dtype(np.int64 if pa.types.is_large_string(arr.type) else np.int32)
    _, off_buf, data_buf = arr.buffers()
    off = np.frombuffer(off_buf, width, len(arr) + 1, arr.offset * width.itemsize)
    data = np.frombuffer(data_buf or b"", np.uint8)
    return off.astype(np.intp) - off[0], data[off[0] : off[-1]]


# documents per ``score_batch`` slice: about this many bytes of UTF-8, so
# its intp codes and float64 gathers (8 bytes per byte each, 1 MiB here)
# stay in a core's L2 instead of ~80 MB per 10k-document batch.  With one
# process per core (4-core box, 10k-doc batches of generated pages)
# fused_predict read 4.8-5.0 µs/doc at 64-128 KiB, 8.9-10.5 at 2 MiB
# and 10-12 unsliced.
SLICE_BYTES = 128 << 10


def _slices(off: np.ndarray) -> list[tuple[int, int]]:
    """[lo, hi) document ranges covering ``off``'s documents, each
    starting at the first document that starts at or past a multiple of
    ``SLICE_BYTES``: slices of about that many bytes, a longer document in
    a slice of its own."""
    n_docs = len(off) - 1
    cuts = np.searchsorted(off[:-1], np.arange(SLICE_BYTES, off[-1], SLICE_BYTES))
    edges = np.unique(np.concatenate([[0], cuts, [n_docs]]))
    return list(zip(edges[:-1].tolist(), edges[1:].tolist()))


def _window_codes(data: np.ndarray) -> np.ndarray:
    """Trigram code of the window starting at each byte of ``data``
    (intp, the gather's native index type), ``N_CODES`` for a window
    holding a NUL byte and for the last two bytes, which start no full
    window."""
    codes = np.full(len(data), N_CODES, dtype=np.intp)
    if len(data) >= 3:
        s = np.take(_BYTE_MAP, data)
        c = s[:-2] * (ALPHABET * ALPHABET)
        c += s[1:-1] * ALPHABET
        c += s[2:]
        np.minimum(c, N_CODES, out=codes[:-2])
    return codes


def _windows(
    off: np.ndarray, data: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(window codes, segment bounds, has-a-window mask) of the documents
    of ``utf8_buffers``' (``off``, ``data``).  The bounds interleave
    ``start, end - 2`` of every document of three bytes or more, so the
    even segments of ``np.add.reduceat(x, bounds)`` are those documents'
    own windows — a window never spans two documents, and a shorter
    document has no segment (it keeps the 0 it starts with)."""
    has = np.diff(off) >= 3
    bounds = np.empty(2 * int(has.sum()), dtype=np.intp)
    bounds[0::2] = off[:-1][has]
    bounds[1::2] = off[1:][has] - 2
    return _window_codes(data), bounds, has


def train_trigram_logprobs(text: str, alpha: float = 0.5) -> np.ndarray:
    """Laplace-smoothed trigram log-probability table from a seed text."""
    codes, _, _ = _windows(*utf8_buffers(text_array([text])))
    counts = np.bincount(codes, minlength=N_CODES + 1)[:N_CODES].astype(np.float64)
    probs = (counts + alpha) / (counts.sum() + alpha * N_CODES)
    return np.log(probs).astype(np.float32)


def score_batch(texts, tables: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Sum-of-logprob scores for a batch against L tables at once.

    ``texts`` is an Arrow string array (or a list, see ``text_array``).
    Returns (scores[L, n_docs], n_trigrams[n_docs]): per table one gather
    through the zero-padded table and one ``np.add.reduceat`` over the
    document segments of ``_windows``, a slice of documents at a time
    (``_slices``), so the per-byte temporaries stay cache-sized.  The
    gather reads a float64 copy of the (tiny, 27^3-entry) tables.  Their
    entries are float32 values, and the trained ones all lie below
    log 0.5, so float64 sums of them are exact for any document under
    millions of windows: a score is bit-identical whatever the summation
    order — in any batch, any slicing, alone, or in a per-document
    python-float loop."""
    off, data = utf8_buffers(text_array(texts))
    n_docs = len(off) - 1
    scores = np.zeros((tables.shape[0], n_docs), dtype=np.float64)
    n_tri = np.zeros(n_docs, dtype=np.int64)
    padded = np.zeros((tables.shape[0], N_CODES + 1), dtype=np.float64)
    padded[:, :N_CODES] = tables
    for lo, hi in _slices(off):
        codes, bounds, has = _windows(
            off[lo : hi + 1] - off[lo], data[off[lo] : off[hi]]
        )
        if not bounds.size:
            continue
        rows = np.flatnonzero(has) + lo
        n_tri[rows] = np.add.reduceat(codes != N_CODES, bounds, dtype=np.int64)[0::2]
        for li, table in enumerate(padded):
            scores[li, rows] = np.add.reduceat(table[codes], bounds)[0::2]
    return scores, n_tri


def fused_predict(
    texts, stacked_tables: np.ndarray, n_langs: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """One normalize+codes pass scoring langid tables AND the perplexity
    table together (``stacked_tables`` = [lid_0..lid_{n_langs-1}, ppl]).

    Returns (best lang index or -1, margin, perplexity).  Scoring the
    stacked tables in a single ``score_batch`` halves the normalize/codes
    work versus scoring the langid and perplexity tables separately."""
    scores, n_tri = score_batch(texts, stacked_tables)
    denom = np.maximum(n_tri, 1)
    per_tri = scores[:n_langs] / denom
    order = np.argsort(-per_tri, axis=0)
    cols = np.arange(len(n_tri))
    margin = per_tri[order[0], cols] - per_tri[order[1], cols]
    best = np.where(n_tri > 0, order[0], -1)
    margin = np.where(n_tri > 0, margin, 0.0)
    ppl = np.where(n_tri > 0, np.exp(-scores[n_langs] / denom), np.inf)
    return best, margin, ppl


class LangIdModel:
    """Multiclass char-trigram language identifier."""

    def __init__(self, tables: np.ndarray, langs: list[str]):
        self.tables = tables
        self.langs = langs

    @classmethod
    def train(cls, corpora: dict[str, str] | None = None) -> "LangIdModel":
        from packs_spark.ml.corpora import SEED_SENTENCES

        corpora = corpora or SEED_SENTENCES
        langs = list(corpora)
        tables = np.stack([train_trigram_logprobs(corpora[l]) for l in langs])
        return cls(tables, langs)


class PerplexityModel:
    """Char-trigram LM perplexity: exp(-mean logprob per trigram)."""

    def __init__(self, table: np.ndarray):
        self.table = table

    @classmethod
    def train(cls, corpus: str | None = None) -> "PerplexityModel":
        from packs_spark.ml.corpora import SEED_SENTENCES

        corpus = corpus or " ".join(SEED_SENTENCES.values())
        return cls(train_trigram_logprobs(corpus))
