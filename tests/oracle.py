"""Single-node golden oracle for the KG pipeline (SURVEY.md §5.2).

The reference tree is empty (SURVEY.md §0), so the pinned stand-in for
"what the reference would emit" is this plain-Python, driver-side
re-execution of the pipeline semantics: generate pages -> as-of dedup of
recrawls -> extract text from html -> filter lang -> segment -> extract
triples/mentions. It deliberately shares the *leaf* functions
(extract_text_py, segment_py, extract_from_sentence) with the Spark path
— what it independently re-implements is everything Spark distributes:
the recrawl dedup, the explode/sent_id bookkeeping, and batching — so a
bug in mapInArrow batching, sent_id bookkeeping, window dedup, or
partitioning shows up as a P/R miss (BASELINE.json:L2 P/R>=0.95).
"""

from __future__ import annotations

from relation_extraction_spark.functions.htmltext import extract_text_py
from relation_extraction_spark.functions.nlp import (
    detect_mentions,
    extract_from_sentence,
)
from relation_extraction_spark.functions.segment import segment_py
from relation_extraction_spark.sources.corpus import (
    make_page,
    make_stale_recrawl,
)


def golden_pages(
    n: int,
    seed: int = 42,
    skew: float = 0.1,
    dup_frac: float = 0.05,
    lang_en: float = 0.85,
) -> list[dict]:
    """Corpus incl. stale recrawls, then as-of deduped: latest ts per url."""
    rows = []
    for i in range(n):
        rows.append(make_page(seed, i, skew, lang_en))
        if dup_frac > 0 and (i * 2654435761 % 10_000) < dup_frac * 10_000:
            rows.append(make_stale_recrawl(seed, i, skew, lang_en))
    latest: dict[str, dict] = {}
    for r in rows:
        cur = latest.get(r["url"])
        if cur is None or r["warc_ts"] > cur["warc_ts"]:
            latest[r["url"]] = r
    return sorted(latest.values(), key=lambda r: r["url"])


def golden_text(pages: list[dict]) -> dict[str, str]:
    """url -> reference-extracted text (the byte-identity golden)."""
    return {p["url"]: extract_text_py(p["html"].decode("utf-8")) for p in pages}


def golden_triples(pages: list[dict], lang: str = "en") -> set[tuple]:
    """Set of (url, sent_id, subj, pred, obj) the reference would emit."""
    out = set()
    for p in pages:
        if lang is not None and p["lang"] != lang:
            continue
        text = extract_text_py(p["html"].decode("utf-8"))
        for sid, sent in enumerate(segment_py(text)):
            for t in extract_from_sentence(sent):
                out.add((p["url"], sid, t["subj"], t["pred"], t["obj"]))
    return out


def golden_mentions(pages: list[dict], lang: str = "en") -> set[tuple]:
    out = set()
    for p in pages:
        if lang is not None and p["lang"] != lang:
            continue
        text = extract_text_py(p["html"].decode("utf-8"))
        for sid, sent in enumerate(segment_py(text)):
            for m in detect_mentions(sent):
                out.add((p["url"], sid, m["mention"], m["start"], m["end"]))
    return out
