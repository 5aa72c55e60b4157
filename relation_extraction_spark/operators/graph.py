"""Graph materialization — the lakehouse replacement for the reference's
custom graph-file emitter (BASELINE.json:L6: "replacing the reference's
custom graph-file emitter with Iceberg triple/entity/edge tables").

- ``materialize_edges``      — triples x canonical mapping -> weighted
                               predicate edges (A1 hash agg).
- ``cooccurrence_edges``     — J8 banded sentence-window self-join:
                               entities co-mentioned within +-w sentences.

Both shuffle only on join/agg keys; unmapped forms deterministically
fall back to their own content hash so no triple is dropped.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.textstats import normalize_text_expr


def materialize_edges(triples: DataFrame, mapping: DataFrame) -> DataFrame:
    """(url, sent_id, subj, pred, obj) + (form -> canonical_id) ->
    (src_id, dst_id, pred, weight)."""
    t = triples.select(
        normalize_text_expr("subj").alias("subj_form"),
        "pred",
        normalize_text_expr("obj").alias("obj_form"),
    )
    msrc = mapping.select(
        F.col("form").alias("subj_form"), F.col("canonical_id").alias("src_id")
    )
    mdst = mapping.select(
        F.col("form").alias("obj_form"), F.col("canonical_id").alias("dst_id")
    )
    return (
        t.join(msrc, "subj_form", "left")
        .join(mdst, "obj_form", "left")
        .select(
            F.coalesce("src_id", F.xxhash64("subj_form")).alias("src_id"),
            F.coalesce("dst_id", F.xxhash64("obj_form")).alias("dst_id"),
            "pred",
        )
        .groupBy("src_id", "dst_id", "pred")
        .agg(F.count(F.lit(1)).alias("weight"))
    )


def cooccurrence_edges(
    linked: DataFrame, mapping: DataFrame, window: int = 2
) -> DataFrame:
    """Entities co-mentioned within +-window sentences of the same url.

    Banded to an equi join on (url, sent_id div window) + residual filter
    — never a theta join (SURVEY.md §2.3 J8).
    """
    lm = (
        linked.withColumn("form", normalize_text_expr("mention"))
        .join(mapping.select("form", "canonical_id"), "form", "inner")
        .select("url", "sent_id", "canonical_id")
        .distinct()
        .withColumn("b", (F.col("sent_id") / window).cast("long"))
    )
    left = lm.select(
        "url",
        F.col("sent_id").alias("s1"),
        F.col("canonical_id").alias("e1"),
        F.explode(F.array(F.col("b") - 1, F.col("b"), F.col("b") + 1)).alias("jb"),
    )
    right = lm.select(
        "url",
        F.col("sent_id").alias("s2"),
        F.col("canonical_id").alias("e2"),
        F.col("b").alias("jb"),
    )
    return (
        left.join(right, ["url", "jb"])
        .filter(
            (F.abs(F.col("s1") - F.col("s2")) <= window)
            & (F.col("e1") < F.col("e2"))
        )
        .groupBy(F.col("e1").alias("src_id"), F.col("e2").alias("dst_id"))
        .agg(F.count(F.lit(1)).alias("weight"))
        .withColumn("pred", F.lit("co_occurs_with"))
        .select("src_id", "dst_id", "pred", "weight")
    )
