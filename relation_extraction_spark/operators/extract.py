"""Extraction stage: pages -> sentences -> triples / mentions.

One ``mapInArrow`` crossing per page batch: inside it each page runs
``segment_py`` (D2) -> ``analyze_sentence_cached`` (D3-D6), and one row
per sentence comes back, ``(url, sent_id, sentence, triples, mentions)``.
The pipeline's crossing (``extractions_from_web_pages``) also reads
``html`` and first checks ``extract_text_py(html) == text`` per page
(D1); the library views read only ``url``, ``text`` and ``lang``, with
the ``lang`` filter pushed into the scan. Token arrays and parse
structure never cross the JVM<->Python wire, and the flat triples and
mentions are JVM-side explodes of that frame (``split_extractions``).
The crossing is Arrow-batched (BASELINE.json:L15 "no per-row Python"),
and no module this path imports loads pandas. Every public function
returns an UNEXECUTED plan, with columns pruned before the crossing.

At 100 TB: the stage is embarrassingly parallel per document — no shuffle
between scan and triple output. Parallelism is governed by input split
size (``spark.sql.files.maxPartitionBytes``), not repartition.
"""

from __future__ import annotations

from collections.abc import Iterator
from functools import partial

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from ..functions.htmltext import extract_text_py
from ..functions.nlp import analyze_sentence_cached
from ..functions.segment import segment_py

TRIPLE_COLS = "url string, sent_id int, subj string, pred string, obj string, conf double"
MENTION_COLS = "url string, sent_id int, mention string, start int, end int"

_SENTENCES = pa.schema(
    [("url", pa.string()), ("sent_id", pa.int32()), ("sentence", pa.string())]
)
# the extraction frame: one row per sentence with its triples and
# mentions nested, so the Python->JVM crossing moves each (url, sent_id)
# once instead of once per extraction
_EXTRACTIONS = _SENTENCES.append(pa.field("triples", pa.list_(pa.struct([
    ("subj", pa.string()), ("pred", pa.string()), ("obj", pa.string()), ("conf", pa.float64()),
])))).append(pa.field("mentions", pa.list_(pa.struct([
    ("mention", pa.string()), ("start", pa.int32()), ("end", pa.int32()),
]))))


def _emit(out: dict[str, list], url, sent_id, sentence) -> None:
    """Append one row; a NULL sentence is a quarantine marker."""
    out["url"].append(url)
    out["sent_id"].append(sent_id)
    out["sentence"].append(sentence)
    if "triples" in out:
        # the analyzer's dicts carry exactly the struct fields
        triples, mentions = (
            (None, None) if sentence is None else analyze_sentence_cached(sentence)
        )
        out["triples"].append(triples)
        out["mentions"].append(mentions)


def _page_batches(
    batches: Iterator[pa.RecordBatch], schema: pa.Schema, lang: str | None
) -> Iterator[pa.RecordBatch]:
    """Pages -> one row of ``schema`` per sentence.

    With an ``html`` column a page whose stored ``text`` differs from
    ``extract_text_py(html)`` (NULL included) is quarantined: it yields
    one marker row (NULL ``sent_id``) and no sentences (D1,
    BASELINE.json:L15). Every page is checked; only then are pages whose
    ``lang`` column is not ``lang`` skipped."""
    for batch in batches:
        cols = batch.to_pydict()
        htmls, langs = cols.get("html"), cols.get("lang")
        out = {name: [] for name in schema.names}
        for i, (url, text) in enumerate(zip(cols["url"], cols["text"])):
            if htmls is not None and extract_text_py(htmls[i]) != text:
                _emit(out, url, None, None)
            elif langs is None or langs[i] == lang:
                for sid, sentence in enumerate(segment_py(text)):
                    _emit(out, url, sid, sentence)
        yield pa.RecordBatch.from_pydict(out, schema=schema)


def _sentence_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """Sentence rows -> the same rows with their extractions."""
    for batch in batches:
        out = {name: [] for name in _EXTRACTIONS.names}
        for row in zip(*batch.to_pydict().values()):
            _emit(out, *row)
        yield pa.RecordBatch.from_pydict(out, schema=_EXTRACTIONS)


def _map_pages(
    pages: DataFrame, schema: pa.Schema, lang: str | None, check_d1: bool = False
) -> DataFrame:
    """One crossing over the pages' ``url`` and ``text`` columns. Without
    the D1 check the ``lang`` filter runs JVM-side (pushed into the
    scan); with it every page, ``html`` included, is checked first, so
    the ``lang`` filter runs in the crossing."""
    cols = ["url", "text"]
    if check_d1:
        cols.append("html")
        if lang is not None:
            cols.append("lang")
    elif lang is not None and "lang" in pages.columns:
        pages = pages.filter(F.col("lang") == lang)
    return pages.select(*cols).mapInArrow(
        partial(_page_batches, schema=schema, lang=lang), from_arrow_schema(schema)
    )


def sentences_from_pages(pages: DataFrame, lang: str | None = "en") -> DataFrame:
    """D2: one row per (url, sent_id, sentence) of the pages' text."""
    return _map_pages(pages, _SENTENCES, lang)


def extractions_from_pages(pages: DataFrame, lang: str | None = "en") -> DataFrame:
    """The extraction frame of the pages' ``text``: D2 -> D3-D6 in one
    crossing, one row per sentence of a ``lang`` page."""
    return _map_pages(pages, _EXTRACTIONS, lang)


def extractions_from_web_pages(web_pages: DataFrame, lang: str | None = "en") -> DataFrame:
    """The pipeline's extraction frame: D1 -> D2 -> D3-D6 in one crossing
    over pages that carry ``html``. A page whose stored ``text`` is not
    ``extract_text_py(html)`` (NULL included) yields one marker row with
    NULL ``sent_id``, ``sentence``, ``triples`` and ``mentions`` instead
    of its sentences; the caller counts and drops the markers."""
    return _map_pages(web_pages, _EXTRACTIONS, lang, check_d1=True)


def extractions_from_sentences(sentences: DataFrame) -> DataFrame:
    """D3-D6 over committed sentences: the extraction frame's rows."""
    return sentences.select("url", "sent_id", "sentence").mapInArrow(
        _sentence_batches, from_arrow_schema(_EXTRACTIONS)
    )


def split_extractions(fused: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(triples, mentions) flat views over an extraction frame —
    JVM-side explodes with the TRIPLE_COLS / MENTION_COLS schemas (a
    marker row's NULL arrays explode to nothing)."""
    triples = fused.select(
        "url", "sent_id", F.explode("triples").alias("_t")
    ).select(
        "url",
        "sent_id",
        F.col("_t.subj").alias("subj"),
        F.col("_t.pred").alias("pred"),
        F.col("_t.obj").alias("obj"),
        F.col("_t.conf").alias("conf"),
    )
    mentions = fused.select(
        "url", "sent_id", F.explode("mentions").alias("_m")
    ).select(
        "url",
        "sent_id",
        F.col("_m.mention").alias("mention"),
        F.col("_m.start").alias("start"),
        F.col("_m.end").alias("end"),
    )
    return triples, mentions


def triples_from_pages(pages: DataFrame, lang: str | None = "en") -> DataFrame:
    """Library entry point: pages -> extracted triples (SURVEY.md §3.2),
    the triples side of the extraction frame."""
    return split_extractions(extractions_from_pages(pages, lang))[0]
