"""The binding per-row invariant (BASELINE.json:L15): extracted text is
byte-identical to the stored ``text`` column per url — plus generator
determinism across parallelism levels (SURVEY.md §5.3)."""

from __future__ import annotations

from pyspark.sql import functions as F

from relation_extraction_spark.functions.htmltext import extract_text
from relation_extraction_spark.functions.segment import segment_py
from relation_extraction_spark.operators.extract import extractions_from_web_pages
from relation_extraction_spark.sources.corpus import synthetic_pages

from .oracle import golden_pages, golden_text

N = 300


def test_extract_text_byte_identity(spark):
    """Inside the extraction crossing every generated page passes the D1
    check: no quarantine marker rows, and every page yields sentences."""
    pages = synthetic_pages(spark, N, seed=42, skew=0.1, dup_frac=0.05)
    frame = extractions_from_web_pages(pages, lang=None)
    assert frame.filter(F.col("sent_id").isNull()).count() == 0
    n_urls = pages.select("url").distinct().count()
    assert frame.select("url").distinct().count() == n_urls


def test_extraction_matches_python_oracle(spark):
    """The extraction crossing's sentences == the pure-Python golden
    extraction, segmented, url by url; the ``extract_text`` column view
    == the golden text."""
    pages = synthetic_pages(spark, N, seed=42, skew=0.1, dup_frac=0.0)
    want = golden_text(golden_pages(N, seed=42, skew=0.1, dup_frac=0.0))
    got: dict[str, list[str]] = {}
    for r in sorted(
        extractions_from_web_pages(pages, lang=None)
        .select("url", "sent_id", "sentence")
        .collect()
    ):
        got.setdefault(r["url"], []).append(r["sentence"])
    assert got == {url: segment_py(text) for url, text in want.items()}
    col = pages.select("url", extract_text("html").alias("text2")).collect()
    assert {r["url"]: r["text2"] for r in col} == want


def test_generator_partition_invariance(spark):
    """Same corpus regardless of parallelism (parts=2 vs parts=8)."""
    a = synthetic_pages(spark, N, seed=7, dup_frac=0.05, parts=2)
    b = synthetic_pages(spark, N, seed=7, dup_frac=0.05, parts=8)
    cols = ["url", "warc_ts", "text", "lang"]
    assert sorted(map(tuple, a.select(cols).collect())) == sorted(
        map(tuple, b.select(cols).collect())
    )
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
