"""Component pass of a traced run: each layer's public functions timed on
their own against the tables the last traced job committed, then one
training-mixture job and its operators.

Every op runs inside a tracer span (so its Spark jobs carry the span's
job group) and ends in an action that executes the whole plan: a
``noop`` write, or a ``count`` where the count is itself reported.
Inputs an op does not own are materialized with ``localCheckpoint``
before its span opens.
"""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from relation_extraction_spark.functions.htmltext import extract_text
from relation_extraction_spark.functions.nlp import analyze_sentence, analyze_sentence_cached
from relation_extraction_spark.functions.segment import segment
from relation_extraction_spark.functions.textstats import quality_filter_exprs
from relation_extraction_spark.operators.canonicalize import (
    dictionary_edges,
    lsh_similarity_edges,
    surface_forms,
)
from relation_extraction_spark.operators.connected_components import connected_components
from relation_extraction_spark.operators.dedup import (
    contamination_overlap,
    exact_dedup,
    ngram_jaccard_pairs,
)
from relation_extraction_spark.operators.extract import extractions_from_sentences
from relation_extraction_spark.operators.graph import cooccurrence_edges, materialize_edges
from relation_extraction_spark.operators.linking import link_mentions
from relation_extraction_spark.operators.packing import pack_offsets_scalable
from relation_extraction_spark.plans.mixture import MixtureConfig, run_mixture
from relation_extraction_spark.sources.dictionary import entity_dictionary
from relation_extraction_spark.sources.lakehouse import SnapshotTable

from workloads import EVAL_MAX_DOC_ID, PACK_BUDGET, read_table

NLP_SAMPLE = 2000   # sentences timed in-process for nlp.us_per_sentence


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(tracer, name: str, fn):
    """Run ``fn`` in span ``name``; returns (result, seconds, span id)."""
    with tracer.span(name) as rec:
        t = time.perf_counter()
        res = fn()
        dt = time.perf_counter() - t
    return res, dt, rec["id"]


def _commit_overhead(tracer, df, scratch: str, append: bool) -> float:
    """Lakehouse write of ``df`` minus a noop write of the same frame."""
    _, noop_s, _ = _timed(tracer, "lakehouse.noop", lambda: _noop(df))
    table = SnapshotTable(scratch, "commit_check")
    write = table.append if append else table.commit
    _, commit_s, _ = _timed(tracer, "lakehouse.commit", lambda: write(df, stage="perfbench"))
    return commit_s - noop_s


def kg_components(spark, tracer, out: str, scratch: str) -> tuple[dict, dict]:
    """Returns (metrics, span ids the event-log pass needs)."""
    t = {name: SnapshotTable(out, name).read(spark) for name in [
        "web_pages", "sentences", "mentions", "triples", "linked_mentions", "mapping"]}
    m, spans = {}, {}
    pages = t["web_pages"]
    _, m["htmltext.s"], _ = _timed(
        tracer, "htmltext", lambda: _noop(pages.select(extract_text("html"))))
    _, m["segment.s"], _ = _timed(
        tracer, "segment", lambda: _noop(pages.select(segment(F.col("text")))))
    _, m["nlp.s"], _ = _timed(
        tracer, "nlp", lambda: _noop(extractions_from_sentences(t["sentences"])))

    sentences = read_table(out, "sentences").column("sentence").to_pylist()
    sample = sentences[:NLP_SAMPLE]
    t0 = time.perf_counter()
    for s in sample:
        analyze_sentence(s)
    m["nlp.us_per_sentence"] = (time.perf_counter() - t0) / max(len(sample), 1) * 1e6
    analyze_sentence_cached.cache_clear()
    for s in sentences:
        analyze_sentence_cached(s)
    ci = analyze_sentence_cached.cache_info()
    m["nlp.cache_hit_ratio"] = ci.hits / max(ci.hits + ci.misses, 1)
    analyze_sentence_cached.cache_clear()

    _, m["linking.s"], _ = _timed(
        tracer, "linking",
        lambda: _noop(link_mentions(t["mentions"], entity_dictionary(spark))))
    ids = read_table(out, "linked_mentions").column("entity_id")
    m["linking.nil_ratio"] = ids.null_count / max(len(ids), 1)

    mapping = read_table(out, "mapping")
    m["canonicalize.forms"] = mapping.num_rows
    n_entities = len(set(mapping.column("canonical_id").to_pylist()))
    m["canonicalize.merge_ratio"] = 1 - n_entities / max(mapping.num_rows, 1)
    forms = surface_forms(t["mentions"], t["triples"]).localCheckpoint()
    lsh = lsh_similarity_edges(forms).localCheckpoint(eager=False)
    n_lsh, m["canonicalize.lsh_s"], spans["lsh"] = _timed(tracer, "canonicalize.lsh", lsh.count)
    m["canonicalize.lsh_edges"] = n_lsh
    edges = dictionary_edges(t["linked_mentions"]).unionByName(lsh).localCheckpoint()
    m["connected_components.edges"] = edges.count()
    _, m["connected_components.s"], _ = _timed(
        tracer, "connected_components", lambda: _noop(connected_components(edges)))
    _, m["graph.s"], _ = _timed(
        tracer, "graph",
        lambda: _noop(
            materialize_edges(t["triples"], t["mapping"]).unionByName(
                cooccurrence_edges(t["linked_mentions"], t["mapping"], 2))))
    m["lakehouse.commit_overhead_s"] = _commit_overhead(
        tracer, t["triples"], scratch, append=False)
    return m, spans


def mixture_components(spark, tracer, docs_dir: str, out: str,
                       scratch: str) -> tuple[dict, dict, dict]:
    """One ``run_mixture`` job, then its operators, each on the frame the
    job feeds it. Returns (metrics, span ids, the job's audit counts)."""
    m = {}
    with tracer.span("mixture") as rec:
        counts = run_mixture(spark, MixtureConfig(out=out, input_parquet=docs_dir,
                                                  run_id="perfbench"))
    docs = spark.read.parquet(docs_dir)
    keep, _ = quality_filter_exprs("text", "lang")
    _, m["textstats.quality_s"], _ = _timed(
        tracer, "textstats.quality", lambda: _noop(docs.select(keep.alias("_keep"))))
    train = docs.filter(keep & (F.col("doc_id") >= EVAL_MAX_DOC_ID)).localCheckpoint()
    eval_docs = docs.filter(F.col("doc_id") < EVAL_MAX_DOC_ID).localCheckpoint()
    contaminated, m["dedup.decontam_s"], _ = _timed(
        tracer, "dedup.decontam",
        lambda: contamination_overlap(train, eval_docs, n=4).select("doc_id").localCheckpoint())
    decon = train.join(contaminated, "doc_id", "left_anti").localCheckpoint()
    keep_ids, m["dedup.exact_s"], _ = _timed(
        tracer, "dedup.exact", lambda: exact_dedup(decon).localCheckpoint())
    exact_kept = decon.join(
        keep_ids.select(F.col("keep_id").alias("doc_id")), "doc_id", "left_semi"
    ).localCheckpoint()
    pairs = ngram_jaccard_pairs(exact_kept, threshold=0.3, n=2).localCheckpoint(eager=False)
    m["dedup.pairs"], m["dedup.ngram_pairs_s"], _ = _timed(
        tracer, "dedup.ngram_pairs", pairs.count)
    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    m["connected_components.mixture_edges"] = m["dedup.pairs"]
    _, m["connected_components.mixture_s"], _ = _timed(
        tracer, "connected_components.mixture", lambda: _noop(connected_components(edges)))
    survivors = exact_kept.select(
        "doc_id", "lang", F.size(F.split("text", " ")).alias("n_tok")).localCheckpoint()
    _, m["packing.s"], _ = _timed(
        tracer, "packing", lambda: _noop(pack_offsets_scalable(survivors, budget=PACK_BUDGET)))
    committed = SnapshotTable(out, "mixture_docs").read(spark)
    m["lakehouse.append_overhead_s"] = _commit_overhead(
        tracer, committed, scratch, append=True)
    return m, {"mixture": rec["id"]}, counts
