"""Entity linking: one broadcast lookup of each mention's alias
(SURVEY.md §2 J1/J6/W1/D7; BASELINE.json:L6).

The link score depends only on the normalized alias and the dictionary
row, never on the mention's context. So the dictionary is scored once,
by Spark, and its scored rows are collected: the dictionary is a
JVM-local table, so the collect starts no Spark job. The driver keeps
the top-1 entity per ``alias_norm`` (ties to the smallest entity_id)
and hands it back as a JVM-local table; every mention then takes that
entry through ONE broadcast left-outer join. NIL is ``entity_id IS
NULL``: the alias has no dictionary entry. Nothing in the plan shuffles.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.textstats import normalize_text_expr
from .canonicalize import char_trigrams_expr

_LINKS = pa.schema(
    [("alias_norm", pa.string()), ("entity_id", pa.int64()), ("score", pa.float64())]
)


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
    scored = dictionary.select(
        "alias_norm",
        "entity_id",
        F.round(link_score_expr("alias_norm", "canonical_name", "prior"), 6).alias("score"),
    ).collect()
    top1: dict[str, dict] = {}
    for r in sorted(scored, key=lambda r: (-r.score, r.entity_id)):
        top1.setdefault(r.alias_norm, r.asDict())
    links = mentions.sparkSession.createDataFrame(
        pa.Table.from_pylist(list(top1.values()), schema=_LINKS)
    )
    return (
        mentions.withColumn("alias_norm", normalize_text_expr("mention"))
        .join(F.broadcast(links), "alias_norm", "left")
        .select("url", "sent_id", "mention", "start", "end", "entity_id", "score")
    )
