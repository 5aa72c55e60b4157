"""End-to-end pipeline tests (SURVEY.md §5.2/5.3): full run produces all
tables with the invariant intact; resume is a no-op on completed stages;
a killed run — stopped cooperatively, hard-stopped in process, or
SIGKILLed mid-commit — resumes to the same tables as an uninterrupted
one, metrics and lineage included."""

from __future__ import annotations

import contextlib
import glob
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time
from collections import Counter

import pytest
from pyspark.sql import functions as F

from relation_extraction_spark.plans.pipeline import (
    DATA_TABLES,
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
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# Spark jobs per stage of the golden run, the counts measured when the
# budget was set (local[4], 8 shuffle partitions). A change that lowers
# a count lowers its bound; one that raises it says why.
STAGE_JOB_BUDGET = {
    "ingest": 2, "extract": 4, "link": 2, "canonicalize": 14, "materialize": 8,
}


@pytest.fixture(scope="module")
def uninterrupted_run(spark, tmp_path_factory) -> tuple[str, dict, dict]:
    """One uninterrupted run of CFG — (root, per-stage infos, Spark jobs
    per stage) — shared read-only by the tests below. The stages run as
    Pipeline.run runs them, each in its own job group."""
    out = str(tmp_path_factory.mktemp("uninterrupted") / "out")
    p = Pipeline(spark, PipelineConfig(out=out, **CFG))
    sc = spark.sparkContext
    info, jobs = {}, {}
    for s in STAGES:
        sc.setJobGroup(f"golden-{s}", s)
        info[s] = getattr(p, f"stage_{s}")()
        jobs[s] = len(sc.statusTracker().getJobIdsForGroup(f"golden-{s}"))
    sc.setLocalProperty("spark.jobGroup.id", None)
    sc.setLocalProperty("spark.job.description", None)
    p.flush_metrics()
    return out, info, jobs


@pytest.fixture(scope="module")
def uninterrupted(uninterrupted_run) -> str:
    return uninterrupted_run[0]


def _table_rows(spark, out: str, name: str) -> list[tuple]:
    return sorted(map(tuple, SnapshotTable(out, name).read(spark).collect()))


def _metric_rows(spark, out: str) -> list[tuple]:
    """(metric, stage, run_id, value); *_wall_ms values are timings."""
    return sorted(
        (r.metric, r.stage, r.run_id,
         None if r.metric.endswith("_wall_ms") else r.value)
        for r in SnapshotTable(out, "metrics").read(spark).collect()
    )


def _lineage_sums(spark, out: str) -> Counter:
    """Σ n_rows per (stage, table); ``file`` is <table>/data/..."""
    sums = Counter()
    for r in SnapshotTable(out, "lineage").read(spark).collect():
        sums[(r.stage, r.file.split("/")[0])] += r.n_rows
    return sums


def _orphan_data_dirs(out: str) -> list[str]:
    """<table>/data/snap-* directories that no manifest of their table lists."""
    listed = set()
    for path in glob.glob(os.path.join(out, "*", "_manifests", "snapshot-*.json")):
        table = path.split(os.sep)[-3]
        with open(path) as fh:
            # a file is data/snap-<n>-<token>/part-*.parquet
            listed |= {f"{table}/{os.path.dirname(f)}" for f in json.load(fh)["files"]}
    return sorted(set(glob.glob("*/data/*", root_dir=out)) - listed)


def _assert_same_tables(spark, out: str, ref: str) -> None:
    for t in DATA_TABLES:
        assert _table_rows(spark, out, t) == _table_rows(spark, ref, t), t
    assert _metric_rows(spark, out) == _metric_rows(spark, ref)
    assert _lineage_sums(spark, out) == _lineage_sums(spark, ref)
    assert _orphan_data_dirs(out) == []


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


def _norm_form(mention: str) -> str:
    # functions/textstats.normalize_text_expr
    return re.sub(r"[ \t\n\x0b\f\r]+", " ", mention.lower()).strip(" ")


def _check_linked_against_python(spark, out: str) -> None:
    linked = SnapshotTable(out, "linked_mentions").read(spark).collect()
    gold = golden_mentions(golden_pages(N, seed=42, skew=0.2, dup_frac=0.1))
    # one row per mention occurrence, offsets carried through
    assert Counter(
        (r.url, r.sent_id, r.mention, r.start, r.end) for r in linked
    ) == Counter(gold)
    dictionary = entity_dictionary(spark).collect()
    for r in linked:
        eid, score = _python_link(_norm_form(r.mention), dictionary)
        assert r.entity_id == eid, r
        assert (r.score is None) if score is None else abs(r.score - score) <= 1e-6, r


def test_full_pipeline_and_resume(spark, tmp_path, uninterrupted_run):
    ref, info, _jobs = uninterrupted_run
    # resumed below: work on a copy of the shared run
    out = str(tmp_path / "full")
    shutil.copytree(ref, out)
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
    # lineage: one row per committed data file of every table, each
    # table's rows summing to its manifest row count
    lineage = _lineage_sums(spark, out)
    manifests = [SnapshotTable(out, t).latest_manifest() for t in DATA_TABLES]
    assert lineage == Counter({(m["stage"], m["table"]): m["n_rows"] for m in manifests})
    # linked_mentions matches the pure-Python path row for row
    _check_linked_against_python(spark, out)

    # -------- resume over a COMPLETE run is a no-op for data stages and
    # re-derives the same metrics and lineage
    metric_rows = _metric_rows(spark, out)
    info2 = run_pipeline(spark, PipelineConfig(out=out, **CFG))
    for s in ["ingest", "extract", "link", "canonicalize", "materialize"]:
        assert info2[s].get("skipped"), s
    assert _metric_rows(spark, out) == metric_rows
    assert _lineage_sums(spark, out) == lineage


def test_cooccurrence_edges_match_python_definition(spark, uninterrupted):
    """co_occurs_with edges against their definition over the pure-Python
    mentions: each distinct (url, sent_id, canonical_id) occurrence, with
    forms mapped through the committed mapping, pairs with every other
    canonical id of the same url within 2 sentences; an unordered pair
    of occurrences counts once (src < dst), repeated mentions of one
    entity in one sentence once."""
    mapping = {
        r.form: r.canonical_id
        for r in SnapshotTable(uninterrupted, "mapping").read(spark).collect()
    }
    gold = golden_mentions(golden_pages(N, seed=42, skew=0.2, dup_frac=0.1))
    occurrences: dict[str, set] = {}
    for url, sent_id, mention, _start, _end in gold:
        cid = mapping.get(_norm_form(mention))
        if cid is not None:
            occurrences.setdefault(url, set()).add((sent_id, cid))
    want = Counter()
    for occ in occurrences.values():
        for s1, e1 in occ:
            for s2, e2 in occ:
                if abs(s1 - s2) <= 2 and e1 < e2:
                    want[(e1, e2)] += 1
    edges = SnapshotTable(uninterrupted, "edges").read(spark)
    got = Counter(
        (r.src_id, r.dst_id, r.weight)
        for r in edges.filter(F.col("pred") == "co_occurs_with").collect()
    )
    assert want and got == Counter((e1, e2, w) for (e1, e2), w in want.items())


def test_stage_spark_jobs_within_budget(uninterrupted_run):
    """Each stage of the golden run runs at most its budgeted Spark jobs."""
    _out, _info, jobs = uninterrupted_run
    assert set(jobs) == set(STAGE_JOB_BUDGET)
    assert all(jobs[s] <= STAGE_JOB_BUDGET[s] for s in jobs), (jobs, STAGE_JOB_BUDGET)


def test_triples_counters_match_committed_triples(spark, uninterrupted):
    """extract observes triples_total, docs_with_triples_approx and
    avg_conf on its triples write; they describe the committed table
    (the url count within HyperLogLog++'s default 5% error)."""
    metrics = {
        r.metric: r for r in SnapshotTable(uninterrupted, "metrics").read(spark).collect()
    }
    triples = SnapshotTable(uninterrupted, "triples").read(spark).select("url", "conf").collect()
    assert metrics["triples_total"].value == len(triples) > 0
    mean = statistics.fmean(r.conf for r in triples)
    assert abs(metrics["avg_conf"].value - mean) <= 1e-12 * mean
    n_docs = len({r.url for r in triples})
    assert abs(metrics["docs_with_triples_approx"].value - n_docs) <= 0.05 * n_docs
    for m in ["triples_total", "docs_with_triples_approx", "avg_conf"]:
        assert metrics[m].stage == "extract", m
    assert "metrics_wall_ms" not in metrics


def test_kill_resume_equals_uninterrupted(spark, tmp_path, uninterrupted):
    """Run stages 1-2, 'crash', resume all -> same outputs as a fresh
    uninterrupted run (checkpoint-resume contract, BASELINE.json:L14)."""
    out_a = str(tmp_path / "killed")
    run_pipeline(spark, PipelineConfig(out=out_a, **CFG), ["ingest", "extract"])
    # resume: completed stages skip, remaining stages run
    info = run_pipeline(spark, PipelineConfig(out=out_a, **CFG))
    assert info["ingest"].get("skipped") and info["extract"].get("skipped")
    _assert_same_tables(spark, out_a, uninterrupted)


def test_hard_stop_resume_equals_uninterrupted(spark, tmp_path, uninterrupted):
    """Stages called directly and never flushed — what a SIGKILL leaves:
    the resumed run still derives every stage's metric and lineage rows
    from the committed manifests."""
    out = str(tmp_path / "hard")
    p = Pipeline(spark, PipelineConfig(out=out, **CFG))
    p.stage_ingest()
    p.stage_extract()
    p.stage_link()
    assert not SnapshotTable(out, "metrics").exists()
    info = run_pipeline(spark, PipelineConfig(out=out, **CFG))
    assert all(info[s].get("skipped") for s in ["ingest", "extract", "link"])
    _assert_same_tables(spark, out, uninterrupted)


def test_sigkill_mid_commit_resumes_to_uninterrupted(spark, tmp_path, uninterrupted):
    """A real main.py process SIGKILLed between the canonicalize
    mapping commit's data write and its manifest publish, then resumed
    by a second main.py: same tables, the dead writer's data directory
    is gone, and the resumed run reports no triples rate, since its
    extract did no work."""
    out = str(tmp_path / "sigkill")
    cmd = [
        sys.executable, "main.py", "--out", out, "--pages", str(N),
        "--seed", "42", "--skew", "0.2", "--dup-frac", "0.1", "--run-id", "t",
        "--master", spark.sparkContext.master, "--shuffle-partitions", "8",
    ]
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, start_new_session=True,
                            stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    deadline = time.monotonic() + 600
    try:
        while not os.path.exists(os.path.join(out, "mapping", "data")):
            assert proc.poll() is None, "main.py exited before canonicalize"
            assert time.monotonic() < deadline, "main.py never reached canonicalize"
            time.sleep(0.02)
    finally:
        with contextlib.suppress(ProcessLookupError):
            os.killpg(proc.pid, signal.SIGKILL)
        proc.wait(timeout=60)
    assert SnapshotTable(out, "linked_mentions").exists()
    assert not SnapshotTable(out, "mapping").exists()
    resumed = subprocess.run(cmd, cwd=ROOT, env=env, check=True, timeout=900,
                             stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    _assert_same_tables(spark, out, uninterrupted)
    # extract was resumed, not run: the triples are reported, no rate is
    report = json.loads(resumed.stdout.strip().splitlines()[-1])
    assert report["stages"]["extract"] == {"skipped": True}
    assert report["triples_total"] == SnapshotTable(uninterrupted, "triples").latest_manifest()["n_rows"]
    assert report["triples_per_sec"] is None


def test_main_rejects_unknown_stage_before_spark(tmp_path):
    """An unknown --stage name is an argument error (exit 2) raised
    before any Spark session starts or any output is written; the
    deleted ``metrics`` stage is one."""
    out = tmp_path / "out"
    for stage, unknown in [("ingest,bogus", "bogus"), ("metrics", "metrics")]:
        proc = subprocess.run(
            [sys.executable, "main.py", "--out", str(out), "--stage", stage],
            cwd=ROOT, capture_output=True, text=True, timeout=300,
        )
        assert proc.returncode == 2, proc.stderr
        assert f"unknown --stage {unknown}" in proc.stderr
        assert not out.exists()


def test_pipeline_deterministic_across_runs(spark, tmp_path, uninterrupted):
    b = str(tmp_path / "b")
    run_pipeline(spark, PipelineConfig(out=b, **CFG))
    for t in ["web_pages", "triples", "entities", "edges"]:
        ra, rb = _table_rows(spark, uninterrupted, t), _table_rows(spark, b, t)
        assert ra == rb, f"{t}: {len(ra)} vs {len(rb)} rows"


def test_stage_outputs_flow(spark, uninterrupted):
    """Spot-check stage wiring: every triple's url is an ingested page,
    every edge endpoint is a canonical entity."""
    p = Pipeline(spark, PipelineConfig(out=uninterrupted, **CFG))
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


def test_canonicalize_distributed_cc_equals_driver_path(
    spark, uninterrupted, monkeypatch
):
    """The golden run's CC input is a few hundred edges, so every
    pipeline run solves it with the driver union-find. Forcing the
    large-star/small-star path over the same committed tables gives the
    same mapping and entities, row for row."""
    import functools

    from relation_extraction_spark.operators import canonicalize as C
    from relation_extraction_spark.operators.connected_components import (
        connected_components,
    )

    mentions, linked, triples = (
        SnapshotTable(uninterrupted, t).read(spark)
        for t in ("mentions", "linked_mentions", "triples")
    )

    def run():
        entities, mapping = C.canonicalize(mentions, linked, triples)
        return (
            sorted(map(tuple, mapping.collect())),
            sorted(map(tuple, entities.collect())),
        )

    driver_mapping, driver_entities = run()
    # some forms merge, so the comparison covers non-trivial components
    assert any(r[1] != r[2] for r in driver_mapping)
    distributed = functools.partial(connected_components, driver_threshold=0)
    monkeypatch.setattr(C, "connected_components", distributed)
    dist_mapping, dist_entities = run()
    assert dist_mapping == driver_mapping
    assert dist_entities == driver_entities


def _write_pages(pages: list[dict], src: str) -> None:
    """One parquet file of ``make_page`` rows, in list order."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([
        ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
    ])
    os.makedirs(src)
    pq.write_table(pa.Table.from_pylist(pages, schema=schema), f"{src}/part-0.parquet")


def test_ingest_keeps_greater_html_on_tied_warc_ts(spark, tmp_path):
    """Two crawls of one url with the same warc_ts: ingest commits the
    one with the greater html, whatever the input row order and the
    bucket count."""
    from relation_extraction_spark.sources.corpus import make_page

    a = make_page(42, 0, skew=0.2, lang_en=1.0)
    b = dict(a, html=a["html"] + b"<!-- recrawl -->")
    for k, rows in enumerate([[a, b], [b, a]]):
        for n_buckets in (1, 4):
            src, out = (str(tmp_path / f"{d}-{k}-{n_buckets}") for d in ("in", "out"))
            _write_pages(rows, src)
            cfg = PipelineConfig(out=out, input_parquet=src, n_buckets=n_buckets, run_id="tie")
            Pipeline(spark, cfg).stage_ingest()
            got = SnapshotTable(out, "web_pages").read(spark).select("html").collect()
            assert [r.html for r in got] == [b["html"]], (k, n_buckets)


def test_extract_quarantines_text_mismatches(spark, tmp_path):
    """D1 quarantine: a page whose stored ``text`` differs from
    ``extract_text_py(html)``, and a page whose ``text`` is NULL, are each
    counted once in ``text_invariant_mismatches`` and add no sentences,
    triples or mentions; every other page extracts as usual."""
    from relation_extraction_spark.functions.segment import segment_py
    from relation_extraction_spark.sources.corpus import make_page

    pages = [make_page(42, i, skew=0.2, lang_en=1.0) for i in range(6)]
    pages[1]["text"] += " Tampered text."
    pages[2]["text"] = None
    bad = {pages[1]["url"], pages[2]["url"]}
    src = str(tmp_path / "pages")
    _write_pages(pages, src)
    out = str(tmp_path / "out")
    info = run_pipeline(
        spark, PipelineConfig(out=out, input_parquet=src, n_buckets=2, run_id="q"),
        ["ingest", "extract"],
    )
    assert info["extract"]["n_mismatch"] == 2
    metrics = {
        r.metric: r.value for r in SnapshotTable(out, "metrics").read(spark).collect()
    }
    assert metrics["text_invariant_mismatches"] == 2.0
    for t in ["sentences", "triples", "mentions"]:
        urls = {r.url for r in SnapshotTable(out, t).read(spark).select("url").collect()}
        assert not urls & bad, t
    want = sorted(
        (p["url"], i, s)
        for p in pages if p["url"] not in bad
        for i, s in enumerate(segment_py(p["text"]))
    )
    assert _table_rows(spark, out, "sentences") == want


def test_second_job_of_a_session_reuses_generated_classes(spark, tmp_path):
    """The codegen cache holds a whole pipeline job's generated classes,
    so the second of two back-to-back jobs in one session compiles only
    the few whose code differs. With Spark's default cache of 100 entries
    it compiled nearly every class of the job again."""
    cfg = dict(CFG, pages=20)
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles = codegen.METRIC_COMPILATION_TIME()  # one count per class compiled
    run_pipeline(spark, PipelineConfig(out=str(tmp_path / "a"), **cfg))
    before = compiles.getCount()
    run_pipeline(spark, PipelineConfig(out=str(tmp_path / "b"), **cfg))
    assert compiles.getCount() - before <= 30
