"""Property-based hardening (hypothesis) for the scrub path and heuristic
signals — the byte-parity-critical pure-Python pieces, tested WITHOUT
Spark so hypothesis can run thousands of adversarial inputs fast."""

from __future__ import annotations

import re

import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from packs_spark.pipeline.scrub import (
    _ALTERNATIVES,
    _NEED_RX,
    _TERMS_FOLDED,
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


# documents that route to Python (non-ASCII, or a 0x1C-0x1F separator)
# interleaved with ones whose words come from Arrow
_ROUTE_DOCS = [
    "the quick brown fox jumps over the lazy dog",
    "one\x1ctwo\x1dthree\x1efour\x1ffive",
    "  leading and trailing whitespace \t\n",
    "word\xa0glued\x85by\u2028separators",
    " \t\r\n\x0b\x0c ",
    "",
    None,
    "The THE the Und UND und",
    "ΑΣ Α",
    "a\x0bb\x0cc\rd",
    "¡hola! ¿qué tal? #$% — «citation» ©",
    "!!! ### $$$ and ... words",
    "naïve café, the end",
    "x",
]


def test_heuristic_batch_routes_on_sliced_array():
    """On a sliced Arrow array (offset != 0) that interleaves Arrow-path
    and routed documents — separators Arrow does not split on, leading,
    trailing and only whitespace, empty and null, case duplicates, final
    sigma, symbols outside ASCII — every heuristic signal equals the
    pandas oracle's, bit for bit."""
    import numpy as np
    import pyarrow as pa

    from packs_spark.pipeline.rules import STOPWORDS
    from packs_spark.pipeline.udfs import _heuristic_batch
    from tests.pandas_oracle import heuristics_oracle

    docs = _ROUTE_DOCS + list(reversed(_ROUTE_DOCS))
    arr = pa.array(["skipped ΑΣ", "skipped"] + docs, pa.string()).slice(2)
    assert arr.offset == 2
    n_chars, n_words, sym_r, stop_r, dist_r, isnull = _heuristic_batch(
        arr, frozenset(STOPWORDS)
    )
    ref = heuristics_oracle(pd.Series(docs, dtype=object))
    assert n_chars.tolist() == ref["n_chars"].tolist()
    assert n_words.tolist() == ref["n_words"].tolist()
    for got, col in [(sym_r, "symbol_ratio"), (stop_r, "stopword_ratio"),
                     (dist_r, "distinct_ratio")]:
        want = ref[col].to_numpy(np.float64)
        assert got.view(np.int64).tolist() == want.view(np.int64).tolist(), col
    assert isnull.tolist() == [d is None for d in docs]


def test_heuristic_batch_honours_stop_set():
    """``stopword_ratio`` counts the words of the ``stop_set`` passed, on
    the Arrow path and the routed one alike (words are lowered first, so
    an upper-case entry never matches)."""
    import pyarrow as pa

    from packs_spark.pipeline.udfs import _heuristic_batch

    docs = ["alpha beta gamma delta", "alpha\x1cbeta gamma délta", "the a"]
    stop_r = _heuristic_batch(pa.array(docs), frozenset({"alpha", "Beta"}))[3]
    assert stop_r.tolist() == [0.25, 0.25, 0.0]
    stop_r = _heuristic_batch(docs, frozenset({"the", "gamma", "beta"}))[3]
    assert stop_r.tolist() == [0.5, 0.5, 0.5]


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


# ---------------------------------------------------------------------------
# The Arrow labeling kernels against per-document Python semantics
# ---------------------------------------------------------------------------

_WHITESPACE = [chr(c) for c in range(0x110000) if chr(c).isspace()]
_SIGNAL_FRAGMENTS = st.sampled_from(
    [
        "the quick brown fox jumps over the lazy dog",
        "le chat est sur la table et il dort",
        "The THE the Und UND",  # case-duplicate words and stopwords
        "ΑΣ Α",  # final sigma before a space
        "ὈΔΥΣΣΕΎΣ",
        "a\x00b",  # in-text NUL: no trigram window may hold it
        "\x00\x00\x00",
        "ſlurword",
        "Kbadword2",
        "１２３-４５-６７８９",
        "١٢٣-٤٥-٦٧٨٩",
        "mail john.doe@example.com or 10.0.0.1",
        "fe80::1 and 2001:db8:0:0:0:0:2:1",
        "in 2019 about 3.5 of 12-34",
        "!!! ### $$$",
        "",
    ]
)
_signal_docs = st.lists(
    st.one_of(_SIGNAL_FRAGMENTS, st.text(max_size=30)), max_size=6
).flatmap(
    lambda parts: st.lists(
        st.sampled_from(_WHITESPACE), min_size=len(parts), max_size=len(parts)
    ).map(lambda seps: "".join(p + s for p, s in zip(parts, seps)))
)


def _reference_scores(texts, tables):
    """Trigram scores and counts per document, as the scorer computed them
    from Python strings: windows over ``encode(errors="replace")``, any
    window holding NUL invalid, float64 sums of the table entries."""
    import numpy as np

    from packs_spark.ml.ngram import ALPHABET

    def sym(byte):
        ch = chr(byte).lower()
        return ord(ch) - ord("a") + 1 if "a" <= ch <= "z" else 0

    scores = np.zeros((len(tables), len(texts)))
    n_tri = np.zeros(len(texts), dtype=np.int64)
    for j, t in enumerate(texts):
        b = (t or "").encode("utf-8", errors="replace")
        for i in range(len(b) - 2):
            if 0 in b[i : i + 3]:
                continue
            code = (sym(b[i]) * ALPHABET + sym(b[i + 1])) * ALPHABET + sym(b[i + 2])
            n_tri[j] += 1
            for li in range(len(tables)):
                scores[li, j] += float(tables[li][code])
    return scores, n_tri


def _reference_signals(texts, tables, langs):
    """``enrich_signals`` written per document, as the kernels computed it
    from Python strings: ``_reference_scores``, ``scrub_with_spans`` for
    every document, and the pandas oracle's heuristics (per-word lower of
    ``str.split()``)."""
    import numpy as np

    from tests.pandas_oracle import heuristics_oracle

    scores, n_tri = _reference_scores(texts, tables)
    n_langs, found = len(langs), n_tri > 0
    denom = np.maximum(n_tri, 1)
    per_tri = scores[:n_langs] / denom
    order = np.argsort(-per_tri, axis=0)
    cols = np.arange(len(texts))
    margin = per_tri[order[0], cols] - per_tri[order[1], cols]
    scrub = [scrub_with_spans(t) for t in texts]
    heur = heuristics_oracle(pd.Series(texts, dtype=object))
    return {
        "lang_pred": [langs[i] if f else "unknown" for i, f in zip(order[0], found)],
        "lang_margin": np.where(found, margin, 0.0),
        "ppl": np.where(found, np.exp(-scores[n_langs] / denom), np.inf),
        "text_scrubbed": [s for s, _ in scrub],
        "scrub_spans": [sp for _, sp in scrub],
        "pii_hits": [len(sp) for _, sp in scrub],
        "q_n_chars": heur["n_chars"].tolist(),
        "q_n_words": heur["n_words"].tolist(),
        "q_symbol_ratio": heur["symbol_ratio"].to_numpy(np.float64),
        "q_stopword_ratio": heur["stopword_ratio"].to_numpy(np.float64),
        "q_distinct_ratio": heur["distinct_ratio"].to_numpy(np.float64),
    }


def _bits(values):
    """A column as comparable Python values; floats by their bit pattern."""
    import numpy as np
    import pyarrow as pa

    if isinstance(values, pa.Array):
        return values.to_pylist()
    if isinstance(values, np.ndarray) and values.dtype.kind == "f":
        return values.astype(np.float64).view(np.int64).tolist()
    return list(values)


_SIGNAL_TABLES = None


def _signal_tables():
    global _SIGNAL_TABLES
    if _SIGNAL_TABLES is None:
        import numpy as np

        from packs_spark.ml.ngram import PerplexityModel

        ppl = PerplexityModel.train().table
        _SIGNAL_TABLES = np.vstack([_NGRAM_MODEL.tables, ppl[None, :]])
        _SIGNAL_TABLES = _SIGNAL_TABLES.astype(np.float64)
    return _SIGNAL_TABLES


@given(
    st.lists(st.one_of(st.none(), _signal_docs), max_size=8),
    st.integers(0, 3),
    st.booleans(),
)
@settings(max_examples=150, deadline=None)
def test_enrich_signals_on_arrow_equals_per_document_semantics(texts, skip, large):
    """Every signal column that ``enrich_signals`` computes from an Arrow
    array's buffers equals, bit for bit, the per-document reference — on
    arrays with nulls, sliced so that ``offset != 0``, with 32- and 64-bit
    offsets."""
    import pyarrow as pa

    from packs_spark.pipeline.udfs import enrich_signals

    kind = pa.large_string() if large else pa.string()
    arr = pa.array(["skipped ΑΣ"] * skip + texts, type=kind).slice(skip)
    assert arr.offset == skip
    tables, langs = _signal_tables(), _NGRAM_MODEL.langs
    got = enrich_signals(arr, tables, langs)
    want = _reference_signals(texts, tables, langs)
    assert list(got) == list(want)
    for name in want:
        assert _bits(got[name]) == _bits(want[name]), name


def test_score_batch_slices_score_as_whole(monkeypatch):
    """With slices of a few bytes a batch scores in many slices, some
    documents longer than a slice: every score and trigram count still
    equals the per-document reference, bit for bit."""
    import pyarrow as pa

    from packs_spark.ml import ngram

    texts = ["", "ab", "the quick brown fox", None, "a\x00bc", "xyz",
             "ΑΣ Α naïve", "le chat est sur la table", "q"] * 3
    arr = pa.array(["skipped"] + texts, pa.string()).slice(1)
    tables = _signal_tables()
    monkeypatch.setattr(ngram, "SLICE_BYTES", 5)
    assert len(ngram._slices(ngram.utf8_buffers(arr)[0])) > 10
    got, want = ngram.score_batch(arr, tables), _reference_scores(texts, tables)
    assert _bits(got[0].ravel()) == _bits(want[0].ravel())
    assert got[1].tolist() == want[1].tolist()


def test_score_batch_lone_surrogate_scores_as_replaced():
    """A list may hold a lone surrogate, which Arrow cannot: it scores as
    ``encode(errors="replace")`` encodes it, a ``?``."""
    from packs_spark.ml.ngram import score_batch

    texts = ["ab\ud800cd", None, "x\udfffy z", "plain text"]
    tables = _NGRAM_MODEL.tables
    got, want = score_batch(texts, tables), _reference_scores(texts, tables)
    assert _bits(got[0].ravel()) == _bits(want[0].ravel())
    assert got[1].tolist() == want[1].tolist() == [3, 0, 3, 8]


def test_lower_then_split_equals_split_then_lower():
    """The heuristics lower a document once, then split it; that equals
    lowering each word of ``str.split()`` for every Unicode whitespace
    character (29 of them) in every final-sigma context — no whitespace
    character is case-ignorable, so Σ sees the same neighbours."""
    assert len(_WHITESPACE) == 29
    contexts = ["ΑΣ{}Α", "ΑΣ{}", "Σ{}Α", "{}ΑΣ", "ΑΣ{}{}Α", "Α'Σ{}Α",
                "ΑΣ'{}Α", "ΑΣ{}'Α", "ὈΔΥΣΣΕΎΣ{}ΣΑ", "İΣ{}ſ{}K"]
    for w in _WHITESPACE:
        for ctx in contexts:
            t = ctx.format(w, w)
            assert t.lower().split() == [x.lower() for x in t.split()], hex(ord(w))


@given(
    st.sampled_from(_ALTERNATIVES).flatmap(
        lambda alt: st.tuples(st.just(alt), st.from_regex(alt, fullmatch=True))
    )
)
@settings(max_examples=300, deadline=None)
def test_scrub_alternative_matches_hold_their_need(alt_text):
    """Every string a scrub alternative matches holds that alternative's
    need (the blocklist's: a casefolded term), so the reduced alternation
    never drops an alternative that could match — a pattern edit that
    breaks a need fails here."""
    alt, text = alt_text
    kind = next(iter(re.compile(alt).groupindex))
    if kind == "blocklist":
        assert any(term in text.casefold() for term in _TERMS_FOLDED), text
    else:
        assert _NEED_RX[kind].search(text), (kind, text)


@given(st.lists(st.one_of(st.none(), _texts, _signal_docs), max_size=8))
@settings(max_examples=300, deadline=None)
def test_scrub_batch_equals_reference_scrub(texts):
    """The batch scrub (Arrow prefilter, reduced alternation) returns the
    reference's scrubbed text and spans for every document."""
    import pyarrow as pa

    from packs_spark.pipeline.scrub import scrub_batch

    scrubbed, spans = scrub_batch(pa.array(texts, type=pa.string()))
    want = [scrub_with_spans(t) for t in texts]
    assert scrubbed.to_pylist() == [s for s, _ in want]
    assert spans == [sp for _, sp in want]
