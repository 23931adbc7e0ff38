"""Character-trigram models: language ID + perplexity, fully vectorized.

Design (public fastText/KenLM ideas re-expressed for the 27-symbol ASCII
alphabet {a..z, space}):

* a model is a dense ``float32[27^3]`` table of log-probabilities per
  language (Laplace-smoothed trigram LM over normalized text);
* scoring a *batch* of documents is pure numpy — no per-row Python:
  normalize → byte-map → rolling trigram codes over one concatenated
  buffer → ``np.add.reduceat`` per-document segment sums;
* inside Spark the tables ride a broadcast variable and are materialized
  once per executor (lazy init inside the pandas UDF), so Arrow batches
  stream through a single vectorized scoring call.

At 10^12 docs the model is a few hundred KB broadcast once — negligible
against the Arrow traffic, which is the actual bottleneck knob
(``spark.sql.execution.arrow.maxRecordsPerBatch``).
"""

from __future__ import annotations

import numpy as np

ALPHABET = 27  # a..z + space
N_CODES = ALPHABET**3

# byte value -> symbol id (0..26), everything non-alpha collapses to space
_BYTE_MAP = np.zeros(256, dtype=np.int32)
for i in range(256):
    c = chr(i).lower()
    _BYTE_MAP[i] = (ord(c) - ord("a") + 1) if "a" <= c <= "z" else 0


def _normalize_to_bytes(texts: list[str]) -> tuple[np.ndarray, np.ndarray]:
    """Concatenate texts with a separator, return (symbol ids, doc boundary
    offsets).  Non-ASCII bytes map to space via the byte table (langid over
    this alphabet is ASCII-transliteration based by construction)."""
    # every separator byte must be invalid (NUL → symbol -1): with a
    # mixed separator like b" \x00 " the flanking spaces form VALID windows
    # with the last two chars of the previous doc and the first two of the
    # next, contaminating scores across batch neighbors (and making
    # keep/drop depend on Arrow batch composition).  Three NULs guarantee
    # every window that touches the gap contains a -1 and is dropped.
    sep = b"\x00\x00\x00"
    # encode each text exactly once (encoding is a real cost at batch size)
    enc = [
        (t if t is not None else "").encode("utf-8", errors="replace")
        for t in texts
    ]
    joined = sep.join(enc) + sep
    raw = np.frombuffer(joined, dtype=np.uint8)
    syms = _BYTE_MAP[raw]
    # NUL (0x00) maps to 0 (space) via the table; mark separators explicitly
    sep_mask = raw == 0
    syms = np.where(sep_mask, -1, syms)
    # compute per-doc start offsets in the symbol stream
    lengths = np.array([len(e) for e in enc], dtype=np.int64)
    sep_len = len(sep)
    starts = np.zeros(len(texts), dtype=np.int64)
    if len(texts) > 1:
        starts[1:] = np.cumsum(lengths[:-1] + sep_len)
    return syms, starts


def trigram_codes(syms: np.ndarray) -> np.ndarray:
    """Rolling trigram codes; windows containing a separator get code -1."""
    if len(syms) < 3:
        return np.empty(0, dtype=np.int64)
    a, b, c = syms[:-2], syms[1:-1], syms[2:]
    valid = (a >= 0) & (b >= 0) & (c >= 0)
    codes = a * (ALPHABET * ALPHABET) + b * ALPHABET + c
    return np.where(valid, codes, -1)


def train_trigram_logprobs(text: str, alpha: float = 0.5) -> np.ndarray:
    """Laplace-smoothed trigram log-probability table from a seed text."""
    syms, _ = _normalize_to_bytes([text])
    codes = trigram_codes(syms)
    codes = codes[codes >= 0]
    counts = np.bincount(codes, minlength=N_CODES).astype(np.float64)
    probs = (counts + alpha) / (counts.sum() + alpha * N_CODES)
    return np.log(probs).astype(np.float32)


def score_batch(
    texts: list[str], tables: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Sum-of-logprob scores for a batch against L tables at once.

    Returns (scores[L, n_docs], n_trigrams[n_docs]).  One pass of numpy —
    the per-document segmentation is np.add.reduceat over doc boundaries.
    """
    n_docs = len(texts)
    L = tables.shape[0]
    syms, starts = _normalize_to_bytes(texts)
    codes = trigram_codes(syms)
    valid = codes >= 0
    safe_codes = np.where(valid, codes, 0)
    # reduceat boundaries: trigram at position i belongs to the doc whose
    # byte range contains i (separators produce invalid windows between docs)
    boundaries = np.clip(starts, 0, max(len(codes), 1))
    n_tri = np.add.reduceat(valid.astype(np.int64), boundaries) if len(codes) else np.zeros(n_docs, dtype=np.int64)
    if len(codes) == 0:
        return np.zeros((L, n_docs), dtype=np.float64), np.zeros(n_docs, dtype=np.int64)
    scores = np.empty((L, n_docs), dtype=np.float64)
    # gather from a float64 view of the (tiny, 27^3-entry) tables so the
    # segment sums accumulate in float64 — batch-size-independent to 1e-9
    # and bit-compatible with a per-document python-float loop.  asarray
    # is a no-op when the broadcast already carries float64 tables.
    tables64 = np.asarray(tables, dtype=np.float64)
    for li in range(L):
        vals = np.where(valid, tables64[li][safe_codes], 0.0)
        scores[li] = np.add.reduceat(vals, boundaries)
    # reduceat quirk: duplicate boundaries (empty docs) repeat the next
    # segment — zero them out
    empty = n_tri <= 0
    if empty.any():
        seg_end = np.append(boundaries[1:], len(codes))
        really_empty = boundaries >= seg_end
        scores[:, really_empty] = 0.0
        n_tri = np.where(really_empty, 0, n_tri)
    return scores, n_tri


def fused_predict(
    texts: list[str], stacked_tables: np.ndarray, n_langs: int
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
    cols = np.arange(len(texts))
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
