"""The flagship query (SURVEY.md §7.2 minimum slice).

"Top-20 (subj, pred, obj) triples by count across the corpus":
scan -> lang filter -> segment + pattern extraction (one mapInArrow
crossing per page batch) -> explode -> hash agg -> top-k
(TakeOrderedAndProject; no global sort).

Fully deterministic: ties broken on (subj, pred, obj).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.extract import triples_from_pages


def top_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pages = docs.select(
        F.col("doc_id").cast("string").alias("url"), "text", "lang"
    )
    # No repartition before extraction: at 100 TB the scan has thousands
    # of splits and parallelism comes for free; on the single-split sf
    # fixture the total extraction work is ~1 CPU-second, so a spreading
    # shuffle costs more in task scheduling + Python-worker spin-up than
    # it buys (measured 0.77s unspread vs 2.0-2.3s spread at local[32]).
    triples = triples_from_pages(pages)
    return (
        triples.groupBy("subj", "pred", "obj")
        .agg(F.count(F.lit(1)).alias("weight"))
        .orderBy(F.desc("weight"), "subj", "pred", "obj")
        .limit(20)
    )
