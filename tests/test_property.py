"""Property-based hardening (hypothesis) for the scrub path and heuristic
signals — the byte-parity-critical pure-Python pieces, tested WITHOUT
Spark so hypothesis can run thousands of adversarial inputs fast."""

from __future__ import annotations

import re

import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from packs_spark.pipeline.scrub import (
    REPLACEMENT,
    _may_match,
    combined_pattern,
    scrub_with_spans,
)

# text including PII-ish fragments, unicode case-folding traps (ſ, K),
# whitespace varieties, and plain junk
_fragments = st.sampled_from(
    [
        "john.doe@example.com",
        "10.0.0.1",
        "999.999.999.999",
        "123-45-6789",
        "１２３-４５-６７８９",  # fullwidth digits: Python's \d matches them
        "١٢٣-٤٥-٦٧٨٩",  # Arabic-Indic digits
        "12345-6789",
        "badword1",
        "BADWORD1",
        "ſlurword",  # long s: (?i) matches 'slurword', lower() does not fold
        "Kbadword2",  # KELVIN SIGN
        "x@y",
        "a.b.c",
        " \t\n   ",
        "κόσμε",
        "naïve café",
        "",
    ]
)
_texts = st.lists(
    st.one_of(_fragments, st.text(max_size=40)), max_size=8
).map(" ".join)


@given(_texts)
@settings(max_examples=300, deadline=None)
def test_prefilter_never_false_negative(text):
    """If the prefilter says 'cannot match', the full scan must agree —
    a prefilter false negative would silently skip a scrub."""
    if not _may_match(text):
        assert combined_pattern().search(text) is None


def test_scrub_redacts_ssn_in_non_ascii_digits():
    """usa_ssn's ``\\d`` matches any Unicode decimal digit, so the prefilter
    must let such documents through to the scan."""
    from packs_spark.pipeline.scrub import scrub_text

    assert scrub_text("my ssn is １２３-４５-６７８９ ok") == "my ssn is <SSN> ok"
    assert scrub_text("id ١٢٣-٤٥-٦٧٨٩ here") == "id <SSN> here"


@given(_texts)
@settings(max_examples=300, deadline=None)
def test_scrub_splice_reconstruction(text):
    """The scrubbed text is exactly the original with each span replaced
    by its kind's token, left to right — spans are on the original text,
    non-overlapping, in positional order."""
    scrubbed, spans = scrub_with_spans(text)
    # spans sorted and non-overlapping
    for (_, s1, e1), (_, s2, e2) in zip(spans, spans[1:]):
        assert s1 <= s2 and e1 <= s2
    out, pos = [], 0
    for kind, s, e in spans:
        out.append(text[pos:s])
        out.append(REPLACEMENT[kind])
        pos = e
    out.append(text[pos:])
    assert "".join(out) == scrubbed


@given(_texts)
@settings(max_examples=200, deadline=None)
def test_heuristic_batch_matches_pandas_oracle(text):
    """UDF-side heuristics == the pandas-oracle recomputation, bit-exact."""
    from packs_spark.pipeline.rules import STOPWORDS
    from packs_spark.pipeline.udfs import _heuristic_batch
    from tests.pandas_oracle import heuristics_oracle

    got = _heuristic_batch([text], frozenset(STOPWORDS))
    n_chars, n_words, sym_r, stop_r, dist_r, isnull = got
    ref = heuristics_oracle(pd.Series([text])).iloc[0]
    assert n_chars[0] == ref["n_chars"]
    assert n_words[0] == ref["n_words"]
    assert sym_r[0] == ref["symbol_ratio"]
    assert stop_r[0] == ref["stopword_ratio"]
    assert dist_r[0] == ref["distinct_ratio"]


@given(st.text(max_size=200))
@settings(max_examples=300, deadline=None)
def test_classify_value_total_and_stable(s):
    """classify_value never throws, returns a known kind, and is
    idempotent on its own classification input."""
    from packs_spark.functions.datesniff import DATE_REGEX_TABLE, classify_value

    out = classify_value(s)
    valid = {None, "year_only"} | {fmt for _, fmt in DATE_REGEX_TABLE}
    assert out in valid


@given(st.text(max_size=100))
@settings(max_examples=300, deadline=None)
def test_slugify_python_twin_idempotent(s):
    """The python twin of the slugify expression: no whitespace survives,
    and applying it twice equals applying it once."""
    slug = re.sub(r"\s+", "_", s.strip())
    assert not re.search(r"\s", slug)
    assert re.sub(r"\s+", "_", slug.strip()) == slug


@given(st.one_of(st.integers(-1000, 1000), st.text(max_size=10), st.booleans()))
@settings(max_examples=200, deadline=None)
def test_boolean_like_python_twin(v):
    """Reference semantics (fhir_compliance_pack/main.py:7-8):
    str(value).lower() in the six lexical forms."""
    from packs_spark.functions.text import BOOLEAN_LIKE

    expected = str(v).lower() in set(BOOLEAN_LIKE)
    # the Spark expression stringifies the value the same way for the
    # types the packs feed it (ints, strings); booleans stringify as
    # 'true'/'false' in Spark vs 'True'/'False' in python — both match
    # after lower(), which is the contract
    assert (str(v).lower() in {"true", "false", "1", "0", "yes", "no"}) == expected


@given(
    st.lists(
        st.text(
            alphabet=st.characters(codec="utf-8"),
            max_size=60,
        ),
        min_size=1,
        max_size=6,
    )
)
@settings(max_examples=150, deadline=None)
def test_score_batch_independent_of_neighbors_hypothesis(texts):
    """Any batch composition (unicode, empties, replacement chars): each
    document's score and trigram count must equal its solo-batch values."""
    import numpy as np

    from packs_spark.ml.ngram import LangIdModel, score_batch

    model = _NGRAM_MODEL
    batch_scores, batch_tri = score_batch(texts, model.tables)
    for i, doc in enumerate(texts):
        solo_scores, solo_tri = score_batch([doc], model.tables)
        assert solo_tri[0] == batch_tri[i]
        np.testing.assert_allclose(
            solo_scores[:, 0], batch_scores[:, i], rtol=0, atol=1e-9
        )


from packs_spark.ml.ngram import LangIdModel as _LangIdModel  # noqa: E402

_NGRAM_MODEL = _LangIdModel.train()
