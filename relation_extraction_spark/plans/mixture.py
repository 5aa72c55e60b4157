"""Training-mixture pipeline — the §2.11 ops composed into ONE job.

    quality filter → decontaminate → exact dedup → near-dup cluster
    (keep one per cluster) → sequence packing → ONE snapshot commit,
    the audit counts in its manifest

Every stage runs the operator that a DuckDB-checked registry entry
(plans/queries.py) runs, so this module only composes them:

- quality filter   — ``quality_filter_exprs``, ``text_quality_filter``;
- decontamination  — ``contamination_overlap``, ``decontaminate_ngram``;
- exact dedup      — ``exact_dedup``, ``dedup_exact``;
- near-dup cluster — ``near_dup_components``, ``dedup_cluster_cc``
                     (its pairs are ``dedup_ngram_jaccard``'s);
- packing          — ``token_counts`` → ``pack_offsets_scalable``,
                     ``pack_sequences_scalable``.

The entries run them over the fixture's documents with the parameters
of the constants below; the composition itself (document conservation,
min-id survivors, audit counts) is pinned by tests/test_mixture.py. The output is what a pretraining data
loader consumes: a ``mixture_docs`` snapshot table of surviving
documents with their packed (seq_no, seq_off) positions, plus a
``metrics`` table recording how many documents each stage dropped and
why (per-rule rejection counts) — the auditability a 100-TB cleaning
run needs before anyone commits to a drop.

Scale shape: the quality filter is narrow (no shuffle);
decontamination broadcasts the (tiny) eval shingle set; clustering
shuffles on shingle blocking keys only; packing is the two-pass
distributed prefix sum (operators/packing.py — no whole-stratum
reducer). One lakehouse commit at the end, made as a KG stage makes it
(plans/pipeline.py ``commit_stage``): ``mixture_docs`` is replaced, the
audit counts ride its manifest's ``stage_metrics``, and ``metrics`` and
``lineage`` are derived from that manifest, so the counts are
crash-exact and a rerun into the same ``out`` replaces the output.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F

from ..functions.textstats import quality_filter_exprs
from ..operators.dedup import (
    contamination_overlap,
    exact_dedup,
    near_dup_components,
)
from ..operators.packing import pack_offsets_scalable, token_counts
from ..sources.lakehouse import SnapshotTable
from .pipeline import commit_stage, flush_metrics

EVAL_MAX_DOC_ID = 10  # docs below this id form the eval set
DECONTAM_NGRAM = 4
DUP_THRESHOLD = 0.3
DUP_NGRAM = 2
PACK_BUDGET = 512


@dataclass
class MixtureConfig:
    out: str
    input_parquet: str
    run_id: str = "mixture"


def run_mixture(spark: SparkSession, cfg: MixtureConfig) -> dict:
    """Run the cleaning pipeline; returns the audit counts dict.

    Audit-count discipline (the probe-measured fixed-cost attack,
    BASELINE.md "Mixture-pipeline scaling"): every count rides a pass
    the job makes anyway — ONE two-key histogram covers input size,
    the per-rule rejection table and the train-side split; the
    contamination and near-dup numbers come from counting the (tiny)
    dropped-id frames; the exact-dedup survivors are observed on their
    own checkpoint, and the output size is the commit's row count. No
    full-corpus scan exists only to produce a metric.
    """
    t0 = time.time()
    docs = spark.read.parquet(cfg.input_parquet)

    # 1. quality filter — keep verdict + per-rule rejection counts.
    #    ONE aggregation computes the whole audit head: rows per
    #    (_reasons, is-eval) cell. '' reason = kept; eval split lets
    #    n_train fall out without a second scan.
    keep, reasons = quality_filter_exprs("text", "lang")
    flagged = docs.select(
        "*", keep.alias("_keep"), reasons.alias("_reasons")
    ).localCheckpoint(eager=False)
    hist = {
        (r["_reasons"], r["_is_eval"]): r["n"]
        for r in flagged.groupBy(
            "_reasons",
            (F.col("doc_id") < EVAL_MAX_DOC_ID).alias("_is_eval"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    n_input = sum(hist.values())
    reason_counts: dict[str, int] = {}
    for (rs, _ev), n in hist.items():
        if rs != "":
            reason_counts[rs] = reason_counts.get(rs, 0) + n
    n_eval_clean = hist.get(("", True), 0)
    n_train = hist.get(("", False), 0)
    clean = flagged.filter(F.col("_keep")).drop("_keep", "_reasons")

    # 2. decontamination — eval set = lowest ids (stand-in for a real
    #    benchmark table); contaminated TRAINING docs are dropped, the
    #    eval docs themselves never enter the mixture. The dropped-id
    #    frame is tiny (contaminated docs only) — checkpoint it so the
    #    count and the anti-join share one computation of the
    #    broadcast-join pass.
    train = clean.filter(F.col("doc_id") >= EVAL_MAX_DOC_ID)
    eval_docs = docs.filter(F.col("doc_id") < EVAL_MAX_DOC_ID)
    contaminated = (
        contamination_overlap(train, eval_docs, n=DECONTAM_NGRAM)
        .select("doc_id")
        .localCheckpoint(eager=False)
    )
    n_contaminated = contaminated.count()
    decon = train.join(contaminated, "doc_id", "left_anti")
    n_decon = n_train - n_contaminated

    # 3a. EXACT dedup first — exact_dedup keeps the min-id copy of each
    #     normalized text. Exact copies dominate real crawl dup mass
    #     (mirrors, recrawls); removing them here costs one narrow
    #     shuffle and shrinks the expensive shingle pass's input, so
    #     the near-dup stage only pays for genuinely fuzzy matches.
    #     Column pruning drops exact_dedup's unused n_copies count.
    #     The checkpoint is eager: an Observation below a lazy
    #     localCheckpoint never reports.
    keep_ids = exact_dedup(decon).select(F.col("keep_id").alias("doc_id"))
    kept = Observation("exact_kept")
    exact_kept = (
        decon.join(keep_ids, "doc_id", "left_semi")
        .observe(kept, F.count(F.lit(1)).alias("n"))
        .localCheckpoint()
    )
    n_exact_kept = kept.get["n"]

    # 3b. near-dup clustering — keep each cluster's component-minimum
    #     representative, drop the rest
    drop = (
        near_dup_components(exact_kept, threshold=DUP_THRESHOLD, n=DUP_NGRAM)
        .filter(F.col("node") != F.col("component"))
        .select(F.col("node").alias("doc_id"))
    )
    # drop ⊆ exact_kept (CC nodes are pair endpoints): TINY to count
    n_near_dup_dropped = drop.count()
    unique = exact_kept.join(drop, "doc_id", "left_anti")

    # 4. sequence packing over survivors (two-pass scalable form)
    packed = pack_offsets_scalable(token_counts(unique), budget=PACK_BUDGET)

    # 5. one commit: the mixture table, its manifest carrying the audit
    #    counts; metrics and lineage are derived from that manifest
    counts = {
        "n_input": n_input,
        "n_quality_dropped": sum(reason_counts.values()),
        "n_eval_held_out": n_eval_clean,
        "n_contaminated": n_contaminated,
        "n_exact_dup_dropped": n_decon - n_exact_kept,
        "n_near_dup_dropped": n_near_dup_dropped,
        **{f"quality_drop[{k}]": v for k, v in sorted(reason_counts.items())},
    }
    manifest = commit_stage(
        SnapshotTable(cfg.out, "mixture_docs"), "mixture", packed, cfg.run_id,
        t0, "n_output", **counts,
    )
    flush_metrics(cfg.out, ["mixture_docs"], cfg.run_id)
    return {**counts, "n_output": manifest["n_rows"]}
