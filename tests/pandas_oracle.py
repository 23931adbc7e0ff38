"""Reference-equivalent pandas/pure-Python oracle for the web-text pipeline.

Independent recomputation of every pipeline signal in the reference's
idiom (pandas string ops + python dict loops + python ``re``), used to
gate the Spark pipeline: keep/drop F1 >= 0.99 and byte-identical scrubbed
text per url (BASELINE.json north rule).
"""

from __future__ import annotations

import math
import re

import numpy as np
import pandas as pd

from packs_spark.ml.corpora import SEED_SENTENCES
from packs_spark.ml.ngram import ALPHABET, LangIdModel, PerplexityModel
from packs_spark.pipeline.rules import DEFAULTS, STOPWORDS
from packs_spark.pipeline.scrub import scrub_text
from packs_spark.pipeline.webtext import DEFAULT_THRESHOLDS

_SYMBOL_RE = re.compile(r"[A-Za-z0-9\s]")


def _sym_ids(text: str) -> list[int | None]:
    """Byte-level normalization identical in spec to ngram._BYTE_MAP:
    ASCII letters → 1..26, NUL → None (it invalidates every window that
    holds it), everything else → 0 (space)."""
    out = []
    for byte in text.encode("utf-8", errors="replace"):
        ch = chr(byte).lower()
        if byte == 0:
            out.append(None)
        else:
            out.append(ord(ch) - ord("a") + 1 if "a" <= ch <= "z" else 0)
    return out


def _trigram_codes(text: str) -> list[int]:
    s = _sym_ids(text)
    return [
        s[i] * ALPHABET * ALPHABET + s[i + 1] * ALPHABET + s[i + 2]
        for i in range(len(s) - 2)
        if None not in s[i : i + 3]
    ]


def langid_oracle(texts: list[str], model: LangIdModel) -> list[tuple[str, float]]:
    """Pure-python scoring loop over the model's own float32 tables."""
    out = []
    for t in texts:
        codes = _trigram_codes(t or "")
        if not codes:
            out.append(("unknown", 0.0))
            continue
        per_lang = []
        for li in range(len(model.langs)):
            tab = model.tables[li]
            s = 0.0
            for c in codes:
                s += float(tab[c])
            per_lang.append(s / len(codes))
        order = sorted(range(len(per_lang)), key=lambda i: -per_lang[i])
        out.append(
            (model.langs[order[0]], per_lang[order[0]] - per_lang[order[1]])
        )
    return out


def perplexity_oracle(texts: list[str], model: PerplexityModel) -> list[float]:
    out = []
    for t in texts:
        codes = _trigram_codes(t or "")
        if not codes:
            out.append(float("inf"))
            continue
        s = 0.0
        for c in codes:
            s += float(model.table[c])
        out.append(math.exp(-s / len(codes)))
    return out


def heuristics_oracle(texts: pd.Series) -> pd.DataFrame:
    """Pandas recomputation of pipeline.rules in the reference's idiom."""
    t = texts.fillna("")
    n_chars = t.str.len()
    words = t.str.split()
    n_words = words.str.len().fillna(0).astype(int)
    sym = t.str.count(r"[^A-Za-z0-9\s]")
    symbol_ratio = (sym / n_chars.replace(0, np.nan)).fillna(0.0)
    stop_set = set(STOPWORDS)
    stop_hits = words.apply(lambda ws: sum(1 for w in ws if w.lower() in stop_set))
    stopword_ratio = (stop_hits / n_words.replace(0, np.nan)).fillna(0.0)
    distinct_ratio = words.apply(
        lambda ws: len({w.lower() for w in ws}) / len(ws) if ws else 1.0
    )
    keep = (
        texts.notna()
        & (n_chars >= DEFAULTS["min_chars"])
        & (n_chars <= DEFAULTS["max_chars"])
        & (n_words >= DEFAULTS["min_words"])
        & (symbol_ratio <= DEFAULTS["max_symbol_ratio"])
        & (stopword_ratio >= DEFAULTS["min_stopword_ratio"])
        & (distinct_ratio >= DEFAULTS["min_distinct_ratio"])
    )
    return pd.DataFrame(
        {
            "n_chars": n_chars,
            "n_words": n_words,
            "symbol_ratio": symbol_ratio,
            "stopword_ratio": stopword_ratio,
            "distinct_ratio": distinct_ratio,
            "keep_heuristic": keep,
        }
    )


def pipeline_oracle(pdf: pd.DataFrame, thresholds: dict | None = None) -> pd.DataFrame:
    """Full reference pipeline: returns (url, keep, text_scrubbed, lang_pred)."""
    th = {**DEFAULT_THRESHOLDS, **(thresholds or {})}
    langid = LangIdModel.train()
    pplm = PerplexityModel.train()
    texts = pdf["text"].tolist()
    lid = langid_oracle(texts, langid)
    ppl = perplexity_oracle(texts, pplm)
    heur = heuristics_oracle(pdf["text"])
    keep = (
        heur["keep_heuristic"].to_numpy()
        & np.array([l != "unknown" for l, _ in lid])
        & (np.array([m for _, m in lid]) >= th["min_margin"])
        & (np.array(ppl) <= th["max_ppl"])
    )
    return pd.DataFrame(
        {
            "url": pdf["url"],
            "keep": keep,
            "text_scrubbed": [scrub_text(t) for t in texts],
            "lang_pred": [l for l, _ in lid],
        }
    )
