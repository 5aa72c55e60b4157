"""Entity linking: one broadcast lookup of each mention's alias
(SURVEY.md §2 J1/J6/W1/D7; BASELINE.json:L6).

The link score depends only on the normalized alias and the dictionary
row, never on the mention's context. So the dictionary is scored once
and reduced to its top-1 entity per ``alias_norm`` (ties to the smallest
entity_id); every mention then takes that entry through ONE broadcast
left-outer join. NIL is ``entity_id IS NULL``: the alias has no
dictionary entry. The mention side never shuffles; the only shuffle is
the ranking window over the dictionary, under its broadcast.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.textstats import normalize_text_expr
from .canonicalize import char_trigrams_expr


def link_score_expr(mention: str | Column, canonical: str | Column, prior: str | Column) -> Column:
    """D7 — deterministic link score, all JVM-side:

        score = trigram_jaccard(lower(mention), lower(canonical))
                * (0.5 + 0.5 * prior)

    ``char_trigrams_expr`` pads with two leading and one trailing space
    (same framing as the round-1 pandas UDF it replaces, so scores are
    bit-identical); ``array_intersect``/``array_union`` compute the
    Jaccard without leaving codegen.
    """
    m = F.col(mention) if isinstance(mention, str) else mention
    c = F.col(canonical) if isinstance(canonical, str) else canonical
    p = F.col(prior) if isinstance(prior, str) else prior
    a = char_trigrams_expr(F.lower(m))
    b = char_trigrams_expr(F.lower(c))
    jac = F.size(F.array_intersect(a, b)) / F.greatest(
        F.size(F.array_union(a, b)), F.lit(1)
    )
    return jac * (F.lit(0.5) + F.lit(0.5) * p.cast("double"))


def link_mentions(mentions: DataFrame, dictionary: DataFrame) -> DataFrame:
    """mentions(url, sent_id, mention, start, end) x dict -> one row per
    mention occurrence with entity_id and score (both NULL for NIL)."""
    w = Window.partitionBy("alias_norm").orderBy(F.desc("score"), F.asc("entity_id"))
    top1 = (
        dictionary.withColumn(
            "score",
            F.round(link_score_expr("alias_norm", "canonical_name", "prior"), 6),
        )
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("alias_norm", "entity_id", "score")
    )
    return (
        mentions.withColumn("alias_norm", normalize_text_expr("mention"))
        .join(F.broadcast(top1), "alias_norm", "left")
        .select("url", "sent_id", "mention", "start", "end", "entity_id", "score")
    )
