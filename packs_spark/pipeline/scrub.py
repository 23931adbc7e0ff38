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
span side-output — the reference implementation ``scrub_text`` and the
batch path ``scrub_batch`` share the same compiled pattern, so parity is
by construction (asserted per-row in tests/test_pipeline.py).  Replaced
regions are never rescanned (no cascading replacements).
"""

from __future__ import annotations

import re
from functools import lru_cache

from packs_spark.functions.patterns import SCRUB_PATTERNS
from packs_spark.ml.corpora import BLOCKLIST_TERMS

REPLACEMENT = {
    "email": "<EMAIL>",
    "ipv4": "<IP>",
    "ipv6": "<IP6>",
    "usa_ssn": "<SSN>",
    "blocklist": "<REDACTED>",
}


@lru_cache(maxsize=1)
def combined_pattern() -> "re.Pattern[str]":
    """All scrub patterns as one named-group alternation — one pass over
    each document instead of one per pattern (the scrub scan dominated the
    whole pipeline UDF before fusing: 5 sub-passes + 5 span-passes → 1).
    Compiled once per Python worker process (the pandas-UDF analogue of a
    broadcast model's lazy per-executor init)."""
    parts = [f"(?P<{key}>{rx})" for key, rx in SCRUB_PATTERNS]
    if BLOCKLIST_TERMS:
        terms = "|".join(re.escape(t) for t in BLOCKLIST_TERMS)
        parts.append(rf"(?P<blocklist>(?i:\b(?:{terms})\b))")
    return re.compile("|".join(parts))


# Conservative prefilter: every scrub pattern needs '@' (email), ':'
# (ipv6), a digit (ipv4/ssn) or a blocklist term — a single char-class
# scan (re's bitmap fast path, ~10× cheaper per byte than the alternation)
# plus C-level substring checks skip the expensive scan for the ~90% of
# web documents that cannot match anything.  "A digit" is ``\d``: usa_ssn
# is ``\d{3}-\d{2}-\d{4}``, and Python's ``\d`` matches every Unicode
# decimal digit ('１２３-４５-６７８９', '١٢٣-٤٥-٦٧٨٩').
_PREFILTER = re.compile(r"[@:\d]")
# casefold, not lower: re.IGNORECASE uses Unicode case folding, so e.g.
# 'ſlurword' (U+017F long s) matches (?i:slurword) while 'ſ'.lower() stays
# 'ſ' — lower() here would be a false-negative prefilter (missed scrub)
_TERMS_FOLDED = tuple(t.casefold() for t in BLOCKLIST_TERMS)


def _may_match(text: str) -> bool:
    if _PREFILTER.search(text):
        return True
    if not _TERMS_FOLDED:
        return False
    folded = text.casefold()
    return any(term in folded for term in _TERMS_FOLDED)


def scrub_with_spans(
    text: str | None,
) -> tuple[str | None, list[tuple[str, int, int]]]:
    """One regex scan → (scrubbed text, [(kind, start, end)] spans on the
    original text, in positional order).  The sub callback fires only on
    matches (rare), so the batch cost is the C-level scan."""
    if text is None:
        return None, []
    if not _may_match(text):
        return text, []
    spans: list[tuple[str, int, int]] = []

    def _repl(m: "re.Match[str]") -> str:
        kind = m.lastgroup or "?"
        spans.append((kind, m.start(), m.end()))
        return REPLACEMENT[kind]

    return combined_pattern().sub(_repl, text), spans


def scrub_batch(
    texts,
) -> tuple[list[str | None], list[list[tuple[str, int, int]]]]:
    """Batch form: (scrubbed list, spans list) in one pass per document."""
    scrubbed: list[str | None] = []
    spans: list[list[tuple[str, int, int]]] = []
    for t in texts:
        s, sp = scrub_with_spans(t)
        scrubbed.append(s)
        spans.append(sp)
    return scrubbed, spans


def scrub_text(text: str | None) -> str | None:
    """Single-string reference implementation (the pandas oracle calls this;
    byte-parity with scrub_batch is asserted in tests/test_pipeline.py)."""
    return scrub_with_spans(text)[0]
