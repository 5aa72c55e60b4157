"""Entity dictionary — broadcast side of candidate generation
(BASELINE.json:L6 "broadcast-dictionary candidate-generation";
FIXTURES.md §2 entity_dictionary).

Built deterministically from the same vocabulary the corpus generator
uses, with a Zipf-skewed prior (the head alias is deliberately hot so the
skew-join path has something to defuse). entity_id = xxhash64 of the
canonical name, computed Spark-side so ids are identical across sessions,
partitionings and cluster sizes. The rows arrive as a pyarrow table, so
the frame plans as a JVM-local ``LocalTableScan``: scanning it starts no
Python worker.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .corpus import _ENTITIES, _NOUNS

_SCHEMA = pa.schema(
    [("alias_norm", pa.string()), ("canonical_name", pa.string()), ("prior", pa.float64())]
)


def entity_dictionary(spark: SparkSession) -> DataFrame:
    """Small dim table: (alias_norm, entity_id, canonical_name, prior)."""
    rows = []
    names = list(_ENTITIES) + list(_NOUNS)
    for rank, name in enumerate(names):
        prior = 1.0 / (rank + 1)  # Zipf by fixed vocabulary order
        for alias in sorted({name.lower(), name.lower() + "s"}):
            rows.append({"alias_norm": alias, "canonical_name": name, "prior": prior})
    df = spark.createDataFrame(pa.Table.from_pylist(rows, schema=_SCHEMA))
    return df.select(
        "alias_norm",
        F.xxhash64("canonical_name").alias("entity_id"),
        "canonical_name",
        F.round("prior", 6).alias("prior"),
    )
