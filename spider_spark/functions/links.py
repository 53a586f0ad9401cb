"""Outlink extraction from text spans (shared engine/oracle kernel).

The reference receives links via ContentFilter's ``foundURI`` callback
(Spider.java:653-657); in the graft, media spans carry explicit link
targets in ``media_ref`` and text spans may embed URL patterns
(FIXTURES.md §1).  This module pins the exact URL-pattern spec so the
engine and oracle cannot diverge.
"""

from __future__ import annotations

import re

_URL_RE = re.compile(r"https?://[^\s]+", re.IGNORECASE)
_TRAIL = ".,!?;:)\"'"

# Python-re \s on str is UNICODE whitespace; Java's \s is ASCII-only.
# The JVM twin below must terminate URLs at exactly the same
# characters, so the Java character class carries the non-ASCII
# whitespace set explicitly (this is the full set Python's \s matches
# beyond the ASCII [ \t\n\x0b\f\r]).
_UNICODE_WS = (
    "\x1c\x1d\x1e\x1f\x85\xa0\u1680"
    "\u2000\u2001\u2002\u2003\u2004\u2005\u2006\u2007\u2008\u2009"
    "\u200a\u2028\u2029\u202f\u205f\u3000"
)
_JAVA_URL_PATTERN = "(?i)https?://[^\\s" + _UNICODE_WS + "]+"
_JAVA_TRAIL_PATTERN = "[.,!?;:)\"']+$"


def extract_urls(text: str) -> list[str]:
    """All URL-pattern matches, trailing punctuation stripped, in
    order of occurrence."""
    if not text:
        return []
    out = []
    for m in _URL_RE.finditer(text):
        u = m.group(0).rstrip(_TRAIL)
        if u:
            out.append(u)
    return out


def extract_urls_col(col):
    """JVM-side twin of ``extract_urls`` as a pure Column expression —
    `regexp_extract_all` + per-element trailing-punctuation strip,
    whole-stage codegen, no Python worker hop (the engine's outlink
    scan was the last per-round Python stage besides the tokenizer).
    Bit-parity with the Python kernel is pinned by
    tests/test_urlnorm.py::test_extract_urls_col_matches_python."""
    from pyspark.sql import functions as F

    matches = F.regexp_extract_all(col, F.lit(_JAVA_URL_PATTERN), F.lit(0))
    stripped = F.transform(
        matches, lambda u: F.regexp_replace(u, _JAVA_TRAIL_PATTERN, ""))
    # null text → [] like the Python kernel (total function)
    return F.coalesce(F.filter(stripped, lambda u: F.length(u) > 0),
                      F.array().cast("array<string>"))
