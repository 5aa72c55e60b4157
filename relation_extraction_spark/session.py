"""SparkSession factory tuned for the KG pipeline.

Scale notes (designed for a 1000-executor cluster, tested on local[N]):

- AQE on (skew-join split + shuffle-partition coalescing at runtime).
- Arrow on for every JVM<->Python crossing; the Arrow batch size is
  capped so a batch of long web pages fits executor memory.
- ``spark.sql.shuffle.partitions`` defaults to 2x local cores here; on a
  real cluster it is set per-job from input size (see plans/pipeline.py).
- Session timezone pinned to UTC so timestamps compare bit-stable against
  the DuckDB oracle and across clusters.
- Python worker reuse on: the extraction crossing (functions/nlp.py)
  amortizes lexicon/regex setup and caches across batches.
- The generated-code cache holds every class of a KG job and a mixture
  job, so later jobs of one session reuse them instead of recompiling.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32

# A cold KG job compiles 149 Janino classes and a mixture job 85
# more (CodegenMetrics, perfbench's kg_web input). Spark's default cache
# of 100 is smaller than one KG job, so every job of a session compiled
# nearly all of its classes again. 512 holds both jobs twice over.
CODEGEN_CACHE_ENTRIES = 512


def get_spark(
    app_name: str = "relation-extraction-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the pipeline's standard conf."""
    master = master or os.environ.get("SPARK_GRAFT_MASTER")
    if master is None:
        # under spark-submit the master arrives via conf — do NOT
        # override it (builder.master() wins over --master, which made
        # every spark-submit leg silently run at local[32]; round-2
        # finding that invalidated the round-1 e2e scaling numbers).
        # Only fall back when launched as a bare python process.
        from pyspark import SparkConf

        if not SparkConf().contains("spark.master"):
            master = "local[%s]" % os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE", DEFAULT_SHUFFLE_PARTITIONS)
        )
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    builder = (
        builder
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.python.worker.reuse", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
