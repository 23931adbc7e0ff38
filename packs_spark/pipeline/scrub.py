"""PII / toxicity scrubbing with Python-``re`` byte parity.

The north rule requires byte-identical scrubbed text versus the reference
labels, whose patterns are Python ``re`` regexes
(pii_scanner_pack/pack_conf.json:4-13).  Java regex (Spark
``regexp_replace``) differs from Python ``re`` in enough corners (\\b
around unicode, alternation tie-breaks) that the scrub hot path runs
Python ``re`` inside the pipeline's Arrow batch function
(``udfs.make_label_batch``).

Scrub semantics: ONE combined alternation pattern
(email | ipv4 | ipv6 | ssn | blocklist), leftmost match wins, ties at the
same position resolved by alternation order (the application order above).
A single scan of each document produces BOTH the scrubbed text and the
span side-output (``_scan``).  Replaced regions are never rescanned (no
cascading replacements).

The batch path ``scrub_batch`` does two things the reference
``scrub_with_spans`` does not:

* it picks the candidate documents with Arrow compute over the whole
  batch — one RE2 pass finds every document holding a necessary
  substring of some alternative (``_NEEDS``), a blocklist term in any
  ASCII case, or any non-ASCII character — and only those reach Python;
* it scans each candidate with the alternation reduced to the
  alternatives whose necessary substring occurs in it, in their original
  order.  Which needs occur is one RE2 pass per alternative over the
  candidates (``_keys``), exact on ASCII text; a non-ASCII candidate is
  checked in Python (``_key``), whose ``\\d`` and case folding are
  Unicode.  An alternative that cannot match anywhere in the text never
  wins a position, so dropping it leaves every match and tie unchanged;
  it does cut the cost: the ipv4 and ssn alternatives try every position
  of a document (≈60 µs for one with a mere year in it), and the email
  alternative's ``[A-Za-z0-9._%+-]+@`` backtracks over every word.

The reference keeps the full ``combined_pattern()`` behind the
conservative ``_may_match``, so its parity with the batch path
(tests/test_property.py, the pandas oracle) checks the reduction instead
of sharing it.
"""

from __future__ import annotations

import re
from functools import lru_cache

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from packs_spark.functions.patterns import SCRUB_PATTERNS
from packs_spark.ml.corpora import BLOCKLIST_TERMS
from packs_spark.ml.ngram import text_array

REPLACEMENT = {
    "email": "<EMAIL>",
    "ipv4": "<IP>",
    "ipv6": "<IP6>",
    "usa_ssn": "<SSN>",
    "blocklist": "<REDACTED>",
}

# Per alternative, a regex every match of it contains: no match of the
# need anywhere in a document, no match of the alternative.  "A digit" is
# ``\d``: usa_ssn is ``\d{3}-\d{2}-\d{4}``, and Python's ``\d`` matches
# every Unicode decimal digit ('１２３-４５-６７８９', '١٢٣-٤٥-٦٧٨٩');
# ipv4 is ASCII octets joined by dots.  tests/test_property.py checks each
# need against strings generated from its alternative.
_NEEDS = {
    "email": "@",
    "ipv4": r"[0-9]\.[0-9]",
    "ipv6": ":",
    "usa_ssn": r"\d-\d",
}
_NEED_RX = {key: re.compile(rx) for key, rx in _NEEDS.items()}
# casefold, not lower: re.IGNORECASE uses Unicode case folding, so e.g.
# 'ſlurword' (U+017F long s) matches (?i:slurword) while 'ſ'.lower() stays
# 'ſ' — lower() here would be a false-negative prefilter (missed scrub)
_TERMS_FOLDED = tuple(t.casefold() for t in BLOCKLIST_TERMS)

# the named alternatives, in application order
_ALTERNATIVES = [f"(?P<{key}>{rx})" for key, rx in SCRUB_PATTERNS]
if BLOCKLIST_TERMS:
    _terms = "|".join(re.escape(t) for t in BLOCKLIST_TERMS)
    _ALTERNATIVES.append(rf"(?P<blocklist>(?i:\b(?:{_terms})\b))")

# ``_key``'s checks as RE2 patterns, one per alternative, in order: in an
# ASCII document RE2's ``\d`` is Python's, and casefold is ASCII lowering
# (the terms are ASCII), so on ASCII text each matches exactly where
# ``_key``'s Python check does.
_KEY_RE2 = [_NEEDS[key] for key, _ in SCRUB_PATTERNS] + (
    [f"(?i:{_terms})"] if BLOCKLIST_TERMS else []
)
# The batch prefilter (RE2, over the UTF-8 buffer): an ASCII document this
# misses cannot hold a need or a blocklist term; every non-ASCII document
# is a candidate.
_CANDIDATE_RE2 = "|".join([*_KEY_RE2, r"[^\x00-\x7f]"])


@lru_cache(maxsize=None)
def _pattern(key: tuple[bool, ...]) -> "re.Pattern[str]":
    """The alternatives flagged in ``key`` (one flag per alternative, in
    order) as one named-group alternation, compiled once per key per
    Python worker process."""
    return re.compile("|".join(a for a, k in zip(_ALTERNATIVES, key) if k))


def combined_pattern() -> "re.Pattern[str]":
    """All scrub patterns as one named-group alternation — one pass over
    each document instead of one per pattern (the scrub scan dominated the
    whole pipeline UDF before fusing: 5 sub-passes + 5 span-passes → 1)."""
    return _pattern((True,) * len(_ALTERNATIVES))


def _key(text: str) -> tuple[bool, ...]:
    """Which alternatives can match somewhere in ``text``."""
    key = tuple(_NEED_RX[k].search(text) is not None for k, _ in SCRUB_PATTERNS)
    if BLOCKLIST_TERMS:
        folded = text.casefold()
        key += (any(term in folded for term in _TERMS_FOLDED),)
    return key


def _keys(arr: pa.Array, texts: list[str]) -> list[tuple[bool, ...]]:
    """``_key`` of each document of ``arr`` (non-null, ``texts`` its
    strings): one RE2 pass per ``_KEY_RE2`` entry over the ASCII
    documents, and ``_key`` itself for the others."""
    ascii_ = pc.equal(pc.utf8_length(arr), pc.binary_length(arr))
    ascii_ = ascii_.to_numpy(zero_copy_only=False)
    keys = [None if a else _key(t) for a, t in zip(ascii_.tolist(), texts)]
    rows = np.flatnonzero(ascii_)
    if len(rows):
        sub = arr if len(rows) == len(arr) else arr.take(rows)
        flags = np.column_stack(
            [pc.match_substring_regex(sub, rx).to_numpy(zero_copy_only=False)
             for rx in _KEY_RE2]
        )
        for i, key in zip(rows.tolist(), map(tuple, flags.tolist())):
            keys[i] = key
    return keys


# Conservative reference prefilter: every scrub pattern needs '@' (email),
# ':' (ipv6), a digit (ipv4/ssn) or a blocklist term — a single char-class
# scan (re's bitmap fast path, ~10× cheaper per byte than the alternation)
# plus C-level substring checks.
_PREFILTER = re.compile(r"[@:\d]")


def _may_match(text: str) -> bool:
    if _PREFILTER.search(text):
        return True
    if not _TERMS_FOLDED:
        return False
    folded = text.casefold()
    return any(term in folded for term in _TERMS_FOLDED)


def _scan(
    pattern: "re.Pattern[str]", text: str
) -> tuple[str, list[tuple[str, int, int]]]:
    """One regex scan → (scrubbed text, [(kind, start, end)] spans on the
    original text, in positional order).  The sub callback fires only on
    matches (rare), so the cost is the C-level scan."""
    spans: list[tuple[str, int, int]] = []

    def _repl(m: "re.Match[str]") -> str:
        kind = m.lastgroup or "?"
        spans.append((kind, m.start(), m.end()))
        return REPLACEMENT[kind]

    return pattern.sub(_repl, text), spans


def scrub_with_spans(
    text: str | None,
) -> tuple[str | None, list[tuple[str, int, int]]]:
    """The reference scrub of one document: the full ``combined_pattern()``
    behind ``_may_match``."""
    if text is None:
        return None, []
    if not _may_match(text):
        return text, []
    return _scan(combined_pattern(), text)


def scrub_batch(texts) -> tuple[pa.Array, list[list[tuple[str, int, int]]]]:
    """Batch form over an Arrow string array (or a list, see
    ``ngram.text_array``): (scrubbed texts as an Arrow array, spans list).
    Only the prefilter's candidates are read into Python, and each is
    scanned with its reduced alternation."""
    arr = text_array(texts)
    spans: list[list[tuple[str, int, int]]] = [[] for _ in range(len(arr))]
    cand = pc.match_substring_regex(arr, _CANDIDATE_RE2).fill_null(False)
    rows = np.flatnonzero(cand.to_numpy(zero_copy_only=False))
    hit = np.zeros(len(arr), dtype=bool)
    scrubbed = []
    cands = arr.take(rows)
    texts = cands.to_pylist()
    for i, text, key in zip(rows, texts, _keys(cands, texts)):
        if not any(key):
            continue
        s, sp = _scan(_pattern(key), text)
        if sp:
            spans[i] = sp
            hit[i] = True
            scrubbed.append(s)
    if not scrubbed:
        return arr, spans
    scrubbed = pa.array(scrubbed, arr.type)
    return pc.replace_with_mask(arr, pa.array(hit), scrubbed), spans


def scrub_text(text: str | None) -> str | None:
    """Single-string reference implementation (the pandas oracle calls this;
    byte-parity with scrub_batch is asserted in tests/test_pipeline.py)."""
    return scrub_with_spans(text)[0]
