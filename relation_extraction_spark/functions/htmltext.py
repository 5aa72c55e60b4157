"""D1 — html -> text extraction (SURVEY.md §2.10 D1; BASELINE.json:L15).

The binding per-row invariant is that ``extract_text(html)`` equals the
``text`` column byte-identically per url. The reference repo was empty at
survey time (SURVEY.md §0), so the authoritative definition of "extracted
text" is this module + the corpus generator in sources/corpus.py, which are
designed as exact inverses: the generator entity-escapes ``text`` into the
page body; this extractor drops head/script/style/comments/tags, unescapes,
and collapses whitespace.

``extract_text_py`` is the one implementation: the extraction stage calls
it inside its ``mapInArrow`` page batches (operators/extract.py) and the
golden oracle in tests calls it directly. ``extract_text`` is a column
view of it, an Arrow UDF (no pandas) for timing the pass on its own.
"""

from __future__ import annotations

import re

import pyarrow as pa
from pyspark.sql.functions import arrow_udf
from pyspark.sql.types import StringType

# Order matters: comments and container blocks go before generic tags.
_RE_COMMENT = re.compile(r"<!--.*?-->", re.DOTALL)
_RE_HEAD = re.compile(r"<head\b.*?</head\s*>", re.DOTALL | re.IGNORECASE)
_RE_SCRIPT = re.compile(r"<script\b.*?</script\s*>", re.DOTALL | re.IGNORECASE)
_RE_STYLE = re.compile(r"<style\b.*?</style\s*>", re.DOTALL | re.IGNORECASE)
_RE_TAG = re.compile(r"<[^>]+>")
_RE_WS = re.compile(r"\s+")
_RE_NUMERIC_ENT = re.compile(r"&#(\d+);")

_NAMED_ENTITIES = [
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&apos;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),  # must be last: escapes of escapes
]


def extract_text_py(html: str | bytes | None) -> str:
    """Deterministic single-page extraction (golden-oracle core); bytes
    are decoded as UTF-8, invalid sequences replaced."""
    if html is None:
        return ""
    if isinstance(html, (bytes, bytearray)):
        html = html.decode("utf-8", "replace")
    s = _RE_COMMENT.sub(" ", html)
    s = _RE_HEAD.sub(" ", s)
    s = _RE_SCRIPT.sub(" ", s)
    s = _RE_STYLE.sub(" ", s)
    s = _RE_TAG.sub(" ", s)
    s = _RE_NUMERIC_ENT.sub(lambda m: chr(int(m.group(1))), s)
    for ent, ch in _NAMED_ENTITIES:
        s = s.replace(ent, ch)
    return _RE_WS.sub(" ", s).strip()


@arrow_udf(StringType())
def extract_text(html: pa.Array) -> pa.Array:
    return pa.array([extract_text_py(h) for h in html.to_pylist()], pa.string())
