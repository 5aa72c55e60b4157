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
                             Jaccard >= threshold on int64 trigram codes
                             (no false positives from banding);
4. connected components    — large-star/small-star iterative joins;
5. entities table          — canonical_id = component min, surface_forms
                             collected + array_sort'ed (deterministic).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.textstats import normalize_text_expr
from .connected_components import connected_components

_MERSENNE31 = (1 << 31) - 1
# LSH shape: MINHASH_K values per form, cut into LSH_BANDS bands; the
# permutations are seeded with MINHASH_SEED
MINHASH_K, LSH_BANDS, MINHASH_SEED = 16, 8, 42


# A form's char trigrams are its 3-char windows once padded with two
# leading spaces and one trailing one; linking's score (through
# char_trigrams_expr) and the LSH blocking both cut them with these helpers.
def _padded_starts(col: Column) -> tuple[Column, Column]:
    padded = F.concat(F.lit("  "), col, F.lit(" "))
    return padded, F.sequence(F.lit(1), F.greatest(F.length(padded) - 2, F.lit(1)))


def _window(padded: Column, start: Column) -> Column:
    return padded.substr(start, F.lit(3))


def char_trigrams_expr(col) -> "F.Column":
    """Distinct char trigrams of a (padded) string, as array<string> —
    pure Column expr: substring over a generated index sequence."""
    padded, starts = _padded_starts(col)
    return F.array_distinct(F.transform(starts, lambda i: _window(padded, i)))


# A trigram w's exact code: its three code points, 21 bits each (Spark's
# ascii() returns the full code point, <= 0x10FFFF), so distinct trigrams
# get distinct codes and Jaccard over codes is Jaccard over trigrams.
_TRIGRAM_CODE = (
    "shiftleft(cast(ascii(substr(w, 1, 1)) AS BIGINT), 42)"
    " | shiftleft(cast(ascii(substr(w, 2, 1)) AS BIGINT), 21)"
    " | ascii(substr(w, 3, 1))"
)


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
    """Star edges among forms the linker resolved to the same entity, in
    ONE aggregate: each form points to its entity's minimum form. The
    link depends only on the normalized alias, so a form links to one
    entity, and an entity's set is bounded by its dictionary aliases."""
    return (
        linked.filter(F.col("entity_id").isNotNull())
        .select("entity_id", F.xxhash64(normalize_text_expr("mention")).alias("form_id"))
        .groupBy("entity_id")
        .agg(F.min("form_id").alias("dst"), F.collect_set("form_id").alias("ids"))
        .select(F.explode("ids").alias("src"), "dst")
        .filter(F.col("src") != F.col("dst"))
    )


def _perm_params() -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the MinHash permutations (splitmix64).

    Sized so (a * h32 + b) stays inside a signed 64-bit long for any
    32-bit ``h32``: a < 2^30, b < 2^31 -> product < 2^62. This keeps the
    whole MinHash pipeline in JVM long arithmetic (codegen-friendly);
    the earlier decimal(38,0) formulation was interpreter-bound and
    allocation-heavy under 32 concurrent tasks."""
    out = []
    x = MINHASH_SEED
    for _ in range(MINHASH_K):
        pair = []
        for _ in range(2):
            x = (x + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
            z = x
            z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
            z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
            pair.append((z ^ (z >> 31)))
        a, b = pair
        out.append(((a % (1 << 30)) | 1, b % _MERSENNE31))
    return out


def minhash_aggs(h_col: str) -> list[Column]:
    """MINHASH_K min-hash aggregate expressions over a 32-bit hash
    column — pure long arithmetic, map-side partial min. Each aggregate
    is ONE parsed SQL string: Column-built expressions cost ~6
    Python->JVM round trips apiece in plan construction."""
    return [
        F.expr(f"min(pmod({a}L * {h_col} + {b}L, {_MERSENNE31}L)) AS mh_{i}")
        for i, (a, b) in enumerate(_perm_params())
    ]


def lsh_similarity_edges(forms: DataFrame, threshold: float = 0.7) -> DataFrame:
    """MinHash-LSH blocked + exact-verified string-similarity edges.

    One aggregate per form computes its MINHASH_K MinHash values over the
    hashed char trigrams (JVM aggregations — no UDF) and collects the set
    of its exact int64 trigram codes. Signatures are banded into
    LSH_BANDS buckets; only bucket collisions are joined, and each
    candidate pair is verified with |A∩B| / (|A|+|B|−|A∩B|) over the
    code sets.
    """
    rows = MINHASH_K // LSH_BANDS
    band_hashes = ", ".join(
        f"xxhash64({b}, " + ", ".join(f"mh_{i}" for i in range(b * rows, (b + 1) * rows)) + ")"
        for b in range(LSH_BANDS)
    )
    # linking's trigram windows; the hash and code are parsed SQL (as in
    # minhash_aggs): a Column call is a Python->JVM round trip apiece
    padded, starts = _padded_starts(F.col("form"))
    sig = (
        forms.select("form_id", padded.alias("p"), F.explode(starts).alias("i"))
        .select("form_id", _window(F.col("p"), F.col("i")).alias("w"))
        .selectExpr(
            "form_id",
            # the MinHash input: xxhash64 of the trigram folded to 32 bits
            f"pmod(xxhash64(w), {1 << 32}) AS h",
            f"{_TRIGRAM_CODE} AS c",
        )
        .groupBy("form_id")
        .agg(*minhash_aggs("h"), F.expr("collect_set(c) AS codes"))
    )
    banded = sig.selectExpr("form_id", f"posexplode(array({band_hashes})) AS (band, bh)")
    cand = (
        banded.selectExpr("form_id AS id_a", "band", "bh")
        .join(banded.selectExpr("form_id AS id_b", "band", "bh"), ["band", "bh"])
        .where("id_a < id_b")
        .select("id_a", "id_b")
        .distinct()
    )
    inter = "size(array_intersect(ca, cb))"
    return (
        cand.join(sig.selectExpr("form_id AS id_a", "codes AS ca"), "id_a")
        .join(sig.selectExpr("form_id AS id_b", "codes AS cb"), "id_b")
        .where(F.expr(f"{inter} / (size(ca) + size(cb) - {inter})") >= threshold)
        .selectExpr("id_a AS src", "id_b AS dst")
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
    # forms feeds BOTH the LSH edge chain (executed by connected
    # components, which reuses its exchange across the chain's branches)
    # and the mapping join, which re-plans it from the committed tables
    # and broadcasts the components as a LocalTableScan
    forms = surface_forms(mentions, triples)
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
