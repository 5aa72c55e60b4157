"""relation_extraction_spark — PySpark-native knowledge-graph construction.

A from-scratch re-expression of the capabilities of
``markfarrell/relation-extraction`` (a single-node per-document
parse-and-extract compiler; see SURVEY.md §0 — the reference tree at
/root/reference was empty at survey time, so behavioral anchors cite
BASELINE.json, not reference file:line) as an idiomatic Spark lakehouse
transform:

- ``sources``    — synthetic Common-Crawl-style corpus, lakehouse
                   snapshot/manifest tables, entity dictionary.
- ``functions``  — pure-Python extraction cores (html→text, sentence
                   segmentation, POS tagging, OpenIE-style triple and
                   mention extraction), run in one Arrow-batched
                   ``mapInArrow`` crossing per page batch, plus
                   pure-column text-analysis expressions.
- ``operators``  — distributed operators composed from DataFrame
                   primitives: entity linking, LSH canonicalization,
                   connected components, edge materialization,
                   dedup/decontamination, sequence packing, as-of
                   dedup.
- ``plans``      — the stage DAG (ingest→extract→link→canonicalize→
                   materialize→metrics) with checkpoint/resume, the
                   mixture-cleaning job, and the oracle-checked query
                   registry.
"""

__version__ = "0.1.0"
