"""Canonicalization — the distributed analogue of the reference's
in-memory Environment topic-merging (SURVEY.md §1.1; BASELINE.json:L6
"canonicalization uses MinHash-LSH blocking and GraphFrames/iterative-join
connected components to merge surface forms").

Stages (all DataFrame ops):
1. surface-form universe   = normalized mention strings (+ triple
                             subj/obj norms), node id = xxhash64(form);
2. dictionary star edges   — forms linked to the same entity_id connect
                             to the entity's min form (linear, not
                             quadratic, in forms-per-entity);
3. LSH similarity edges    — MinHash over char trigrams, banded blocking,
                             candidates verified with exact trigram
                             Jaccard >= threshold (no false positives
                             from banding);
4. connected components    — large-star/small-star iterative joins;
5. entities table          — canonical_id = component min, surface_forms
                             collected + array_sort'ed (deterministic).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .connected_components import connected_components
from .dedup import hash32_expr, minhash_aggs, normalize_text_expr


def char_trigrams_expr(col) -> "F.Column":
    """Distinct char trigrams of a (padded) string, as array<string> —
    pure Column expr: substring over a generated index sequence."""
    padded = F.concat(F.lit("  "), col, F.lit(" "))
    idx = F.sequence(F.lit(1), F.greatest(F.length(padded) - 2, F.lit(1)))
    return F.array_distinct(F.transform(idx, lambda i: padded.substr(i, F.lit(3))))


def surface_forms(mentions: DataFrame, triples: DataFrame | None = None) -> DataFrame:
    """Distinct normalized surface forms with stable node ids."""
    forms = mentions.select(normalize_text_expr("mention").alias("form"))
    if triples is not None:
        forms = forms.unionByName(
            triples.select(normalize_text_expr("subj").alias("form"))
        ).unionByName(triples.select(normalize_text_expr("obj").alias("form")))
    return (
        forms.filter(F.length("form") > 0)
        .distinct()
        .select("form", F.xxhash64("form").alias("form_id"))
    )


def dictionary_edges(linked: DataFrame) -> DataFrame:
    """Star edges among forms the linker resolved to the same entity."""
    lf = (
        linked.filter(F.col("entity_id").isNotNull())
        .select(
            "entity_id", normalize_text_expr("mention").alias("form")
        )
        .distinct()
        .withColumn("form_id", F.xxhash64("form"))
    )
    centers = lf.groupBy("entity_id").agg(F.min("form_id").alias("center"))
    return (
        lf.join(centers, "entity_id")
        .filter(F.col("form_id") != F.col("center"))
        .select(F.col("form_id").alias("src"), F.col("center").alias("dst"))
        .distinct()
    )


def lsh_similarity_edges(
    forms: DataFrame,
    threshold: float = 0.7,
    k: int = 16,
    bands: int = 8,
    seed: int = 42,
) -> DataFrame:
    """MinHash-LSH blocked + exact-verified string-similarity edges.

    Char-trigram MinHash signatures (k JVM aggregations — no UDF),
    banded into ``bands`` buckets; only bucket collisions are joined and
    each candidate pair is verified with exact trigram Jaccard.
    """
    rows = k // bands
    tri = forms.select(
        "form_id", char_trigrams_expr(F.col("form")).alias("tris")
    )
    sh = tri.select(
        "form_id", F.explode("tris").alias("t")
    ).withColumn("h", hash32_expr("t"))
    sig = sh.groupBy("form_id").agg(*minhash_aggs("h", k, seed))
    banded = sig.select(
        "form_id",
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(
                        F.lit(b),
                        *[F.col(f"mh_{i}") for i in range(b * rows, (b + 1) * rows)],
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band", "bh"),
    )
    a = banded.select(F.col("form_id").alias("id_a"), "band", "bh")
    b = banded.select(F.col("form_id").alias("id_b"), "band", "bh")
    cand = (
        a.join(b, ["band", "bh"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    ta = tri.select(F.col("form_id").alias("id_a"), F.col("tris").alias("ta"))
    tb = tri.select(F.col("form_id").alias("id_b"), F.col("tris").alias("tb"))
    return (
        cand.join(ta, "id_a")
        .join(tb, "id_b")
        .withColumn(
            "jac",
            F.size(F.array_intersect("ta", "tb"))
            / F.size(F.array_union("ta", "tb")),
        )
        .filter(F.col("jac") >= threshold)
        .select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    )


def entities_from_mapping(mapping: DataFrame) -> DataFrame:
    """mapping(form, canonical_id) -> entities(canonical_id,
    surface_forms): one row per component, forms sorted."""
    return mapping.groupBy("canonical_id").agg(
        F.array_sort(F.collect_set("form")).alias("surface_forms")
    )


def canonicalize(
    mentions: DataFrame,
    linked: DataFrame,
    triples: DataFrame | None = None,
    threshold: float = 0.7,
) -> tuple[DataFrame, DataFrame]:
    """Returns (entities, mapping).

    entities: canonical_id long, surface_forms array<string> (sorted)
    mapping:  form string, form_id long, canonical_id long
    """
    # forms feeds BOTH the LSH edge chain and the final mapping join;
    # localCheckpoint materializes the (small: distinct normalized
    # strings) universe once so the mentions+triples scan + distinct
    # doesn't execute twice
    forms = surface_forms(mentions, triples).localCheckpoint()
    edges = dictionary_edges(linked).unionByName(
        lsh_similarity_edges(forms, threshold=threshold)
    )
    cc = connected_components(edges)
    mapping = (
        forms.join(cc, forms.form_id == cc.node, "left")
        .select(
            "form",
            "form_id",
            F.coalesce("component", "form_id").alias("canonical_id"),
        )
    )
    return entities_from_mapping(mapping), mapping
