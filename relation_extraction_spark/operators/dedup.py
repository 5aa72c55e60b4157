"""Deduplication family for large-scale training-data pipelines.

All variants are pure DataFrame compositions (JVM-side, no Python UDFs):

- ``exact_dedup``            — hash-groupBy on normalized content.
- ``hashed_shingles_frame``  — exploded (doc, hashed word n-gram) frame.
- ``ngram_jaccard_pairs``    — capped inverted-index Jaccard pairs
                               (exact when ``max_shingle_freq=None``;
                               the default caps hot shingles — the
                               oracle mirrors the cap in SQL).
- ``near_dup_components``    — those pairs closed under transitivity.
- ``contamination_overlap``  — train/eval n-gram overlap.

Scale notes: the pair-finder shuffles on a *blocking key* (the shingle)
rather than cross-joining; hot shingles (stop phrases) are capped with a
frequency filter, so a head key bounds its fan-out instead of funnelling
one reducer (BASELINE.json:L14).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.textstats import normalize_text_expr
from .connected_components import connected_components


def exact_dedup(df: DataFrame) -> DataFrame:
    """One representative (min ``doc_id``) per exact normalized ``text``."""
    return (
        df.select("doc_id", normalize_text_expr("text").alias("_norm"))
        .groupBy("_norm")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
        .select("keep_id", "n_copies")
    )


def hashed_shingles_frame(docs: DataFrame, n: int) -> DataFrame:
    """Exploded (doc, sh) frame of a ``doc_id``'s distinct word n-grams of
    ``text``, hashed to longs.

    ``xxhash64`` runs over the sliced token ARRAY inside the map stage,
    so the n-gram string is never materialized and the widest shuffle
    moves 8-byte keys (collision odds ~m²/2⁶⁵ for m distinct shingles,
    negligible below ~10⁸ per corpus). Token boundaries stay significant
    because xxhash64 mixes per element, so hashing the sliced array keys
    the same shingles as hashing the joined string.

    A doc with < n tokens (or NULL text) emits no rows: its index array
    is NULL and explode(NULL) emits nothing, matching the oracles.
    Clamping with greatest() cannot express "no shingles" —
    sequence(1, 0) is DESCENDING [1, 0] in Spark (step defaults to -1
    when start > stop) and slice(toks, 0, n) is a runtime error.
    """
    toks = F.split(F.col("text"), " ")
    return docs.select(
        F.col("doc_id").alias("doc"),
        F.explode(
            F.array_distinct(
                F.transform(
                    F.when(
                        F.size(toks) >= n,
                        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
                    ),
                    lambda i: F.xxhash64(F.slice(toks, i, n)),
                )
            )
        ).alias("sh"),
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    max_shingle_freq: int | None = 1000,
) -> DataFrame:
    """Capped inverted-index Jaccard>=threshold pairs (EXACT when
    ``max_shingle_freq=None``; the capped default is approximate).

    ``max_shingle_freq`` drops shingles appearing in more than that many
    docs before pair generation. The default is a FINITE cap: a single
    stop-phrase shingle shared by f docs produces f^2/2 pair rows, so an
    uncapped inverted index goes quadratic on hot shingles at scale.
    Pass ``None`` explicitly for the exact form on small corpora. The
    DuckDB oracle mirrors the cap (plans/queries.py
    ``dedup_ngram_jaccard``), so the scale-safe capped form IS the
    verified form.

    Plan shape: ONE scan+explode builds the hashed ``(doc, sh)`` frame,
    lazily checkpointed; everything downstream is a count aggregation
    or a join on it —

    - hot shingles come from ``groupBy(sh).count`` (map-side partial
      counts over 16-byte rows — far cheaper than collecting doc
      lists) and are removed with a ``left_anti`` join. No broadcast
      hint: the hot set's worst-case cardinality is instances/cap, so
      AQE's runtime size stats pick the broadcast when the set is
      actually small (always, in practice) without baking in an
      at-scale OOM.
    - per-doc sizes are another count agg over the surviving frame.
    - candidate pairs are the sh-keyed SELF-JOIN of the surviving
      frame (``id_a < id_b``), counted per pair for the intersection
      size.

    Why a self-join rather than ``groupBy(sh) -> collect_list ->
    pair-explode``: profiled at sf0.1, pair GENERATION was never the
    cost (0.34 s) — the pair-count hash aggregate fed by the Generate
    chain was (3.6 s of a 4.5 s total), and the same aggregate fed by
    the join's probe stream runs ~2.8x faster (whole-stage codegen spans
    the join+partial-agg pipeline; the Generate chain breaks it). Net
    1.67x end-to-end, identical pairs. The join form also has NO wide
    rows anywhere (peak row = one 16-byte (doc, sh) pair vs an 8 KB doc
    list).

    Scale notes: the widest shuffle moves hashed 8-byte shingle keys
    (hashed_shingles_frame). Both self-join sides canonicalize to the
    same Exchange, so the frame shuffles once and is read twice. A hot
    key still fans out to at most cap^2/2 pair rows inside one task —
    the inherent bound of any inverted-index formulation — and AQE's
    skew-join split applies when hot keys cluster in a partition.
    """
    # Spark re-derives lineage at every reference — freq, sizes and the
    # two join sides would otherwise re-run the scan+explode four
    # times. A LAZY localCheckpoint materializes the exploded frame
    # once in the block manager (memory-with-disk-spill) and truncates
    # the lineage for every downstream branch.
    sh = hashed_shingles_frame(docs, n).localCheckpoint(eager=False)
    if max_shingle_freq is not None:
        hot = (
            sh.groupBy("sh")
            .agg(F.count(F.lit(1)).alias("f"))
            .filter(F.col("f") > max_shingle_freq)
            .select("sh")
        )
        sh = sh.join(hot, "sh", "left_anti")
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("sz"))
    common = (
        sh.select(F.col("doc").alias("id_a"), "sh")
        .join(sh.select(F.col("doc").alias("id_b"), "sh"), "sh")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col("doc").alias("id_a"), F.col("sz").alias("sa"))
    sb = sizes.select(F.col("doc").alias("id_b"), F.col("sz").alias("sb"))
    # Gate on the UNROUNDED ratio (the DuckDB oracles do the same in
    # their WHERE) — rounding only the emitted column, so a ratio in
    # [threshold - 5e-7, threshold) can't pass here yet fail the oracle.
    ratio = F.col("common") / (F.col("sa") + F.col("sb") - F.col("common"))
    return (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(ratio >= threshold)
        .select("id_a", "id_b", F.round(ratio, 6).alias("jaccard"))
    )


def near_dup_components(docs: DataFrame, threshold: float, n: int) -> DataFrame:
    """Near-dup clusters: capped ``ngram_jaccard_pairs`` closed under
    transitivity -> (node, component), component = the cluster's min
    doc_id. Similarity is not transitive (A~B, B~C, A!~C must still
    collapse to one kept doc), so pair lists alone under-remove.

    Only docs in some pair appear; a doc absent from the output is its
    own singleton cluster (the caller's concern, as for
    connected_components).
    """
    pairs = ngram_jaccard_pairs(docs, threshold=threshold, n=n)
    return connected_components(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    )


def contamination_overlap(corpus: DataFrame, eval_docs: DataFrame, n: int = 4) -> DataFrame:
    """Train/eval contamination check: corpus docs sharing ≥1 word
    n-gram with ANY eval document, with the distinct-shingle overlap
    count — the canonical pre-training decontamination pass (strip
    benchmark text from the training mixture before it leaks).

    Returns (doc_id, n_shared), contaminated docs only.

    Scale shape: the EVAL side is a benchmark suite — thousands of
    documents against a 100-TB corpus — so its distinct shingle set is
    explicitly ``broadcast()``: the corpus-side shingle explode then
    joins map-side with ZERO shuffle of corpus shingles; the only
    exchange is the final per-doc count aggregation over the
    (rare) matching rows. Shingles are hashed to 8-byte longs on both
    sides (hashed_shingles_frame).
    """
    ev = F.broadcast(hashed_shingles_frame(eval_docs, n).select("sh").distinct())
    return (
        hashed_shingles_frame(corpus, n)
        .join(ev, "sh")
        # plain count, not count_distinct: the corpus frame is already
        # distinct per (doc, sh) via array_distinct, and the eval side
        # is .distinct() — a distinct-agg here would add an Expand
        # shuffle for nothing
        .groupBy(F.col("doc").alias("doc_id"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
