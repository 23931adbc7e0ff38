"""Batch-independence of the trigram scorer.

The separator between concatenated documents must make every window that
touches a document boundary invalid, so a document's score and trigram
count never depend on which Arrow batch (or partition) it lands in —
the determinism contract the lakehouse resume/commit protocol and the
keep/drop oracle gates rely on.
"""

from __future__ import annotations

import math

import numpy as np
import pytest

from packs_spark.ml.ngram import (
    ALPHABET,
    LangIdModel,
    PerplexityModel,
    fused_predict,
    score_batch,
)

DOCS = [
    "the quick brown fox jumps over the lazy dog",
    "le renard brun saute par dessus le chien paresseux",
    "x",          # too short for any trigram
    "",           # empty
    "der schnelle braune fuchs springt",
    "aaa",        # exactly one trigram
    "hello world this is a slightly longer english sentence for scoring",
]


def _codes_single(text: str) -> list[int]:
    """Independent per-document trigram codes (the semantics oracle)."""
    syms = []
    for byte in (text or "").encode("utf-8", errors="replace"):
        ch = chr(byte).lower()
        syms.append(ord(ch) - ord("a") + 1 if "a" <= ch <= "z" else 0)
    return [
        syms[i] * ALPHABET * ALPHABET + syms[i + 1] * ALPHABET + syms[i + 2]
        for i in range(len(syms) - 2)
    ]


@pytest.fixture(scope="module")
def model():
    return LangIdModel.train()


def test_n_trigrams_is_len_minus_two(model):
    _, n_tri = score_batch(DOCS, model.tables)
    for doc, n in zip(DOCS, n_tri):
        expected = max(len(doc.encode("utf-8", errors="replace")) - 2, 0)
        assert n == expected, doc


def test_score_independent_of_batch_neighbors(model):
    batch_scores, batch_tri = score_batch(DOCS, model.tables)
    for i, doc in enumerate(DOCS):
        solo_scores, solo_tri = score_batch([doc], model.tables)
        assert solo_tri[0] == batch_tri[i]
        np.testing.assert_allclose(
            solo_scores[:, 0], batch_scores[:, i], rtol=0, atol=1e-9
        )


def test_score_matches_per_document_python_loop(model):
    scores, n_tri = score_batch(DOCS, model.tables)
    for i, doc in enumerate(DOCS):
        codes = _codes_single(doc)
        assert n_tri[i] == len(codes)
        for li in range(len(model.langs)):
            expected = sum(float(model.tables[li][c]) for c in codes)
            assert math.isclose(scores[li, i], expected, rel_tol=0, abs_tol=1e-6)


def test_fused_predict_stable_under_permutation(model):
    ppl_table = PerplexityModel.train().table
    stacked = np.vstack([model.tables, ppl_table[None, :]])
    n_langs = len(model.langs)
    best_a, margin_a, ppl_a = fused_predict(DOCS, stacked, n_langs)
    perm = list(reversed(range(len(DOCS))))
    best_b, margin_b, ppl_b = fused_predict([DOCS[j] for j in perm], stacked, n_langs)
    for i, j in enumerate(perm):
        assert best_a[j] == best_b[i]
        assert math.isclose(margin_a[j], margin_b[i], rel_tol=0, abs_tol=1e-9)
        if math.isinf(ppl_a[j]):
            assert math.isinf(ppl_b[i])
        else:
            assert math.isclose(ppl_a[j], ppl_b[i], rel_tol=0, abs_tol=1e-9)


@pytest.mark.parametrize(
    "text", ["\x00\x00\x00ab", "the cat\x00 sat on the mat with the dog"]
)
def test_oracle_drops_nul_windows_as_the_scorer_does(model, text):
    """A window holding NUL scores nowhere: the pandas oracle's langid,
    margin and perplexity equal ``fused_predict``'s for text with a NUL."""
    from tests.pandas_oracle import langid_oracle, perplexity_oracle

    pplm = PerplexityModel.train()
    stacked = np.vstack([model.tables, pplm.table[None, :]])
    (best,), (margin,), (ppl,) = fused_predict([text], stacked, len(model.langs))
    ((lang, margin_ref),) = langid_oracle([text], model)
    (ppl_ref,) = perplexity_oracle([text], pplm)
    assert lang == (model.langs[best] if best >= 0 else "unknown")
    assert math.isclose(margin, margin_ref, rel_tol=1e-12, abs_tol=1e-12)
    if math.isinf(ppl):
        assert math.isinf(ppl_ref)
    else:
        assert math.isclose(ppl, ppl_ref, rel_tol=1e-12)
    if text.startswith("\x00"):
        assert (lang, ppl) == ("unknown", math.inf)
