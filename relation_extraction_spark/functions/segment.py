"""D2 — sentence segmentation (SURVEY.md §2.10 D2; BASELINE.json:L6).

Rule-based, deterministic: split after sentence terminators ``. ! ?``
(optionally followed by closing quotes/parens) when followed by whitespace,
guarding a fixed abbreviation list. Texts with no terminators at all (the
driver's ``documents`` fixture is punctuation-free word soup — FIXTURES.md
§1) fall back to fixed-length word windows so downstream stages always see
sentence-sized units.

``segment_py`` is pure Python: the extraction stage calls it inside its
``mapInArrow`` page batches (operators/extract.py) and the golden oracle
shares it. ``segment`` is a column view of it, an Arrow UDF (no pandas)
returning ``array<string>``, for timing the pass on its own.
"""

from __future__ import annotations

import re

import pyarrow as pa
from pyspark.sql.functions import arrow_udf
from pyspark.sql.types import ArrayType, StringType

WINDOW_WORDS = 12  # fallback window size for terminator-free text

_ABBREVS = {
    "mr", "mrs", "ms", "dr", "prof", "sr", "jr", "st", "vs", "etc",
    "e.g", "i.e", "inc", "ltd", "co", "corp", "no", "dept", "fig",
    "jan", "feb", "mar", "apr", "jun", "jul", "aug", "sep", "sept",
    "oct", "nov", "dec", "u.s", "u.k",
}

# candidate boundary: terminator run + optional close quote/paren + spaces
_BOUNDARY = re.compile(r"([.!?]+[\"')\]]*)(\s+)")


def _is_abbrev(left: str) -> bool:
    """True if the text left of a '.' ends in a guarded abbreviation."""
    m = re.search(r"([A-Za-z][A-Za-z.]*)$", left)
    if not m:
        return False
    w = m.group(1).rstrip(".").lower()
    if w in _ABBREVS or (w + ".") in _ABBREVS or w in {"e.g", "i.e", "u.s", "u.k"}:
        return True
    return len(w) == 1  # single-letter initials ("J. Smith")


def segment_py(text: str) -> list[str]:
    """Deterministic segmentation of one document (oracle core)."""
    if not text:
        return []
    text = text.strip()
    sents: list[str] = []
    start = 0
    for m in _BOUNDARY.finditer(text):
        end = m.end(1)
        term = m.group(1)
        if term.startswith(".") and "!" not in term and "?" not in term:
            if _is_abbrev(text[start : m.start(1)]):
                continue
        piece = text[start:end].strip()
        if piece:
            sents.append(piece)
        start = m.end()
    tail = text[start:].strip()
    if tail:
        sents.append(tail)
    if len(sents) == 1 and not re.search(r"[.!?]", text):
        # terminator-free word soup -> fixed word windows (FIXTURES.md §1)
        words = text.split(" ")
        if len(words) > WINDOW_WORDS:
            sents = [
                " ".join(words[i : i + WINDOW_WORDS])
                for i in range(0, len(words), WINDOW_WORDS)
            ]
    return sents


@arrow_udf(ArrayType(StringType()))
def segment(text: pa.Array) -> pa.Array:
    return pa.array([segment_py(t) for t in text.to_pylist()], pa.list_(pa.string()))
