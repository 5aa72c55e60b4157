"""Entity dictionary — broadcast side of candidate generation
(BASELINE.json:L6 "broadcast-dictionary candidate-generation";
FIXTURES.md §2 entity_dictionary).

Built deterministically from the same vocabulary the corpus generator
uses, with a Zipf-skewed prior (the head alias is deliberately hot so the
skew-join path has something to defuse). entity_id = xxhash64 of the
canonical name, computed Spark-side so ids are identical across sessions,
partitionings and cluster sizes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .corpus import _ENTITIES, _NOUNS


def entity_dictionary(spark: SparkSession) -> DataFrame:
    """Small dim table: (alias_norm, entity_id, canonical_name, prior)."""
    rows = []
    names = list(_ENTITIES) + list(_NOUNS)
    for rank, name in enumerate(names):
        prior = 1.0 / (rank + 1)  # Zipf by fixed vocabulary order
        aliases = {name.lower(), name.lower() + "s"}
        for alias in sorted(aliases):
            rows.append((alias, name, prior))
    df = spark.createDataFrame(
        rows, "alias_norm string, canonical_name string, prior double"
    )
    return df.select(
        "alias_norm",
        F.xxhash64("canonical_name").alias("entity_id"),
        "canonical_name",
        F.round("prior", 6).alias("prior"),
    )
