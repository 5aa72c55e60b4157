"""S4 — deterministic synthetic Common-Crawl-style corpus (SURVEY.md §2.1).

Generates ``web_pages(url, warc_ts, html, text, lang)`` — the binding input
shape (BASELINE.json:L15) — such that ``extract_text(html) == text``
BYTE-IDENTICALLY per url *by construction*: the generator entity-escapes
``text`` sentence-by-sentence into ``<p>`` blocks and the extractor
(functions/htmltext.py) inverts exactly that (drop head/script/style/
comments/tags, unescape, collapse whitespace).

Knobs (all seeded, reproducible across machines and parallelism levels):
- ``skew``      — fraction of sentences that mention one head entity
                  ("Spark"), to exercise AQE skew-join handling.
- ``dup_frac``  — fraction of urls that also appear with an OLDER warc_ts
                  and different text (exercises the as-of dedup, J9).
- ``lang_en``   — fraction of pages in English (pipeline filters lang).

Per-row Python here is deliberate and fine: generation is test/bench input
prep, not the measured pipeline; it runs once and lands in parquet.
"""

from __future__ import annotations

import random
from collections.abc import Iterator
from datetime import datetime, timedelta, timezone

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import from_arrow_schema

#: The binding input-table shape (BASELINE.json input_hint). Readers of a
#: web_pages parquet directory should pass this explicitly: schema
#: inference on a cold session costs ~2.3 s of driver-side fixed time
#: (footer sampling + first-use datasource warmup, measured round 4) —
#: a pure Amdahl term the pipeline pays at EVERY parallelism level.
_PAGES_ARROW = pa.schema([
    ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
])
PAGES_SCHEMA = from_arrow_schema(_PAGES_ARROW)

_ENTITIES = [
    "Spark", "Flink", "Trino", "Presto", "Hive", "Iceberg", "Parquet",
    "Arrow", "Kafka", "Hadoop", "DuckDB", "Calcite", "Tungsten", "Velox",
]
_HEAD_ENTITY = "Spark"
_NOUNS = [
    "engine", "table", "query", "planner", "index", "row", "column",
    "executor", "cluster", "dataset", "pipeline", "schema", "parser",
    "optimizer", "partition", "shuffle", "operator", "workload", "buffer",
    "segment", "manifest", "snapshot", "catalog", "lineage", "metric",
]
_VERBS = [
    "uses", "scans", "reads", "writes", "builds", "contains", "provides",
    "supports", "joins", "filters", "computes", "stores", "processes",
    "creates", "merges", "links", "extracts", "optimizes", "executes",
    "partitions", "caches", "broadcasts", "aggregates", "transforms",
]
_ADJS = [
    "distributed", "fast", "columnar", "vectorized", "large", "small",
    "parallel", "new", "adaptive", "big",
]
_NAMES = ["Smith", "Jones", "Chen", "Garcia", "Patel", "Kim", "Mueller"]
_LANGS = ["es", "de", "fr", "zh"]

_EPOCH = datetime(2025, 1, 1, tzinfo=timezone.utc)


_SUFFIX_ALPHABET = "qxzkwv"


def _uniq_suffix(rng: random.Random, n: int = 12) -> str:
    return "".join(rng.choice(_SUFFIX_ALPHABET) for _ in range(n))


def _sentence(rng: random.Random, skew: float, unique_vocab: bool = False) -> str:
    if rng.random() < skew:
        return "%s %s the %s." % (
            _HEAD_ENTITY, rng.choice(_VERBS), rng.choice(_NOUNS)
        )
    t = rng.randrange(6)
    n1, n2 = rng.choice(_NOUNS), rng.choice(_NOUNS)
    v = rng.choice(_VERBS)
    a = rng.choice(_ADJS)
    e = rng.choice(_ENTITIES)
    if unique_vocab:
        # zero-repeat mode (round-5 tag-path A/B): every noun/entity
        # occurrence gets a fresh suffix, so no sentence, tag-cache
        # entry, or open-class token EVER repeats across the corpus —
        # the worst case for the tag/parse caches. The suffix alphabet
        # (q x z k w v) keeps each word ONE token (letters only, so
        # TOKEN_RE doesn't split it) and keeps the tagger's output
        # class identical (no lexicon hit, no -s stem check, and no
        # _SUFFIX_RULES ending matches these letters → default noun),
        # so the parse workload SHAPE matches the normal corpus and
        # the A/B isolates cache effectiveness, not grammar drift.
        n1 += _uniq_suffix(rng)
        n2 += _uniq_suffix(rng)
        e += _uniq_suffix(rng)
    if t == 0:
        return "The %s %s %s the %s." % (a, n1, v, n2)
    if t == 1:
        return "%s is a %s %s." % (e, a, n1)
    if t == 2:
        return "%s %s the %s with the %s." % (e, v, n1, n2)
    if t == 3:
        return "Dr. %s says the %s %s the %s." % (rng.choice(_NAMES), n1, v, n2)
    if t == 4:
        return '"The %s is %s," says %s.' % (n1, a, rng.choice(_NAMES))
    return "The %s %s the %s, and the %s %s the %s." % (n1, v, n2, n2, rng.choice(_VERBS), n1)


def _escape(s: str, rng: random.Random) -> str:
    s = s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;").replace('"', "&quot;")
    if rng.random() < 0.2:  # exercise numeric-entity unescaping
        s = s.replace("e", "&#101;", 1)
    return s


def make_page(
    seed: int,
    i: int,
    skew: float,
    lang_en: float,
    sent_range: tuple[int, int] = (3, 10),
    unique_vocab: bool = False,
) -> dict:
    """Pure deterministic page for row id ``i`` (oracle-shared core).

    ``sent_range`` controls page length (sentences per page); benchmarks
    use longer, Common-Crawl-shaped pages (tests keep the short default).
    ``unique_vocab`` switches to the zero-repeat corpus (see _sentence).
    """
    rng = random.Random((seed << 32) ^ (i * 2654435761 % (1 << 61)))
    lang = "en" if rng.random() < lang_en else rng.choice(_LANGS)
    n_sent = rng.randint(*sent_range)
    sents = [_sentence(rng, skew, unique_vocab) for _ in range(n_sent)]
    text = " ".join(sents)
    body = "".join("<p>%s</p>" % _escape(s, rng) for s in sents)
    html = (
        "<!DOCTYPE html><html><head><title>Doc %d</title>"
        '<meta charset="utf-8"><script>var x=%d;</script>'
        "<style>body{color:#%06x;}</style></head>"
        "<body><!-- crawl %d -->%s</body></html>"
    ) % (i, rng.randrange(100), rng.randrange(1 << 24), i, body)
    url = "https://src%d.example.com/%s/%016x" % (i % 20, lang, (i * 0x9E3779B97F4A7C15) % (1 << 60))
    ts = _EPOCH + timedelta(seconds=rng.randrange(30 * 24 * 3600))
    return {
        "url": url,
        "warc_ts": ts,
        "html": html.encode("utf-8"),
        "text": text,
        "lang": lang,
    }


def make_stale_recrawl(
    seed: int,
    i: int,
    skew: float,
    lang_en: float,
    sent_range: tuple[int, int] = (3, 10),
) -> dict:
    """An OLDER crawl of the same url with different content (J9 input)."""
    page = make_page(seed, i, skew, lang_en, sent_range)
    rng = random.Random((seed << 32) ^ (i * 40503 + 7))
    stale = make_page(seed ^ 0x5A17, i + 1_000_000_007, skew, lang_en, sent_range)
    page_old = dict(stale)
    page_old["url"] = page["url"]
    page_old["lang"] = page["lang"]
    page_old["warc_ts"] = page["warc_ts"] - timedelta(days=rng.randint(30, 90))
    return page_old


def synthetic_pages(
    spark: SparkSession,
    n: int,
    seed: int = 42,
    skew: float = 0.0,
    dup_frac: float = 0.05,
    lang_en: float = 0.85,
    parts: int | None = None,
    sent_range: tuple[int, int] = (3, 10),
    unique_vocab: bool = False,
) -> DataFrame:
    """Distributed generator: ``spark.range(n)`` -> mapInArrow -> pages."""
    parts = parts or max(spark.sparkContext.defaultParallelism, 4)

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            rows = []
            for i in batch.column("id").to_pylist():
                rows.append(
                    make_page(seed, i, skew, lang_en, sent_range, unique_vocab)
                )
                if dup_frac > 0 and (i * 2654435761 % 10_000) < dup_frac * 10_000:
                    rows.append(make_stale_recrawl(seed, i, skew, lang_en, sent_range))
            yield pa.RecordBatch.from_pylist(rows, schema=_PAGES_ARROW)

    return spark.range(0, n, 1, parts).mapInArrow(gen, schema=PAGES_SCHEMA)
