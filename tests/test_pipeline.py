"""End-to-end pipeline tests (SURVEY.md §5.2/5.3): full run produces all
tables with the invariant intact; resume is a no-op on completed stages;
a killed run resumes to the same result as an uninterrupted one."""

from __future__ import annotations

import re
from collections import Counter

from pyspark.sql import functions as F

from relation_extraction_spark.plans.pipeline import (
    STAGES,
    PipelineConfig,
    Pipeline,
    run_pipeline,
)
from relation_extraction_spark.sources.dictionary import entity_dictionary
from relation_extraction_spark.sources.lakehouse import SnapshotTable

from .oracle import golden_mentions, golden_pages

N = 120
CFG = dict(pages=N, seed=42, skew=0.2, dup_frac=0.1, run_id="t")


def _table_rows(spark, out: str, name: str) -> list[tuple]:
    return sorted(map(tuple, SnapshotTable(out, name).read(spark).collect()))


def _trigrams(s: str) -> set[str]:
    # operators/canonicalize.char_trigrams_expr
    padded = "  " + s + " "
    return {padded[i : i + 3] for i in range(max(len(padded) - 2, 1))}


def _python_link(alias: str, dictionary: list) -> tuple:
    """Top-1 (entity_id, score) for one alias, NIL = (None, None):
    trigram Jaccard x (0.5 + 0.5 * prior), ties to the smallest id."""
    a = _trigrams(alias)
    cands = []
    for r in dictionary:
        if r.alias_norm == alias:
            b = _trigrams(r.canonical_name.lower())
            score = len(a & b) / max(len(a | b), 1) * (0.5 + 0.5 * r.prior)
            cands.append((-round(score, 6), r.entity_id, score))
    if not cands:
        return None, None
    _, eid, score = min(cands)
    return eid, score


def _check_linked_against_python(spark, out: str) -> None:
    linked = SnapshotTable(out, "linked_mentions").read(spark).collect()
    gold = golden_mentions(golden_pages(N, seed=42, skew=0.2, dup_frac=0.1))
    # one row per mention occurrence, offsets carried through
    assert Counter(
        (r.url, r.sent_id, r.mention, r.start, r.end) for r in linked
    ) == Counter(gold)
    dictionary = entity_dictionary(spark).collect()
    for r in linked:
        alias = re.sub(r"[ \t\n\x0b\f\r]+", " ", r.mention.strip(" ").lower())
        eid, score = _python_link(alias, dictionary)
        assert r.entity_id == eid, r
        assert (r.score is None) if score is None else abs(r.score - score) <= 1e-6, r


def test_full_pipeline_and_resume(spark, tmp_path):
    out = str(tmp_path / "full")
    info = run_pipeline(spark, PipelineConfig(out=out, **CFG))
    # every stage ran, nothing skipped
    assert set(info) == set(STAGES)
    assert not any(v.get("skipped") for v in info.values())
    # the binding per-row invariant held inside the pipeline
    assert info["extract"]["n_mismatch"] == 0
    # all output tables committed with rows
    for t in ["web_pages", "triples", "mentions", "linked_mentions",
              "entities", "mapping", "edges", "lineage", "metrics"]:
        assert SnapshotTable(out, t).latest_manifest()["n_rows"] > 0, t
    # as-of dedup: exactly one row per url survives ingest
    pages = SnapshotTable(out, "web_pages").read(spark)
    assert pages.count() == pages.select("url").distinct().count() == N
    # metrics table carries the headline counters
    metrics = {
        r.metric: r.value
        for r in SnapshotTable(out, "metrics").read(spark).collect()
    }
    assert metrics["text_invariant_mismatches"] == 0.0
    assert metrics["triples_total"] > 0
    # lineage rows cover the extract stage's partitions
    lin = SnapshotTable(out, "lineage").read(spark)
    assert lin.filter(F.col("stage") == "extract").count() > 0
    # linked_mentions matches the pure-Python path row for row
    _check_linked_against_python(spark, out)

    # -------- resume over a COMPLETE run is a no-op for data stages
    info2 = run_pipeline(spark, PipelineConfig(out=out, **CFG))
    for s in ["ingest", "extract", "link", "canonicalize", "materialize"]:
        assert info2[s].get("skipped"), s


def test_kill_resume_equals_uninterrupted(spark, tmp_path):
    """Run stages 1-2, 'crash', resume all -> same outputs as a fresh
    uninterrupted run (checkpoint-resume contract, BASELINE.json:L14)."""
    out_a = str(tmp_path / "killed")
    run_pipeline(spark, PipelineConfig(out=out_a, **CFG), ["ingest", "extract"])
    # resume: completed stages skip, remaining stages run
    info = run_pipeline(spark, PipelineConfig(out=out_a, **CFG))
    assert info["ingest"].get("skipped") and info["extract"].get("skipped")

    out_b = str(tmp_path / "fresh")
    run_pipeline(spark, PipelineConfig(out=out_b, **CFG))

    for t in ["triples", "entities", "mapping", "edges"]:
        assert _table_rows(spark, out_a, t) == _table_rows(spark, out_b, t), t


def test_pipeline_deterministic_across_runs(spark, tmp_path):
    a = str(tmp_path / "a")
    b = str(tmp_path / "b")
    run_pipeline(spark, PipelineConfig(out=a, **CFG))
    run_pipeline(spark, PipelineConfig(out=b, **CFG))
    for t in ["web_pages", "triples", "entities", "edges"]:
        ra, rb = _table_rows(spark, a, t), _table_rows(spark, b, t)
        assert ra == rb, f"{t}: {len(ra)} vs {len(rb)} rows"


def test_stage_outputs_flow(spark, tmp_path):
    """Spot-check stage wiring: every triple's url is an ingested page,
    every edge endpoint is a canonical entity."""
    out = str(tmp_path / "flow")
    run_pipeline(spark, PipelineConfig(out=out, **CFG))
    p = Pipeline(spark, PipelineConfig(out=out, **CFG))
    pages = p.tables["web_pages"].read(spark).select("url")
    triples = p.tables["triples"].read(spark)
    orphans = triples.join(pages, "url", "left_anti").count()
    assert orphans == 0
    ents = p.tables["entities"].read(spark).select(
        F.col("canonical_id").alias("x")
    )
    edges = p.tables["edges"].read(spark)
    bad_src = edges.join(ents, edges.src_id == ents.x, "left_anti").count()
    bad_dst = edges.join(ents, edges.dst_id == ents.x, "left_anti").count()
    assert bad_src == 0 and bad_dst == 0
