"""Sequence packing for pretraining mixtures (SURVEY.md §2.11 M12).

GPT-style concat-then-chunk packing: a stratum's documents are laid out
in deterministic (stratum, id) order, the running token offset assigns
each document a sequence number (``off div budget``) and an in-sequence
start (``off mod budget``); documents may straddle a chunk boundary,
exactly as concatenated pretraining token streams do.

One physical form, ``pack_offsets_scalable``, the two-pass distributed
prefix sum: range-partition by (stratum, id), per-partition subtotals to
the driver (bounded by the PARTITION count, never rows), cumulate prefix
offsets, broadcast them back, intra-partition running sums only. No
single reducer ever sees a whole stratum; the widest shuffle is the
range exchange. The DuckDB oracle of ``pack_sequences_scalable``
(plans/queries.py) checks it, and tests/test_mixture.py compares it with
``pack_offsets_window``, a one-window-per-stratum reference that states
the definition directly.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_type

from ..functions.textstats import token_count_expr


def token_counts(docs: DataFrame) -> DataFrame:
    """The packing input: (doc_id, lang, n_tok), n_tok the whitespace
    token count of ``text`` (the quality filter's count)."""
    return docs.select("doc_id", "lang", token_count_expr("text").alias("n_tok"))


def pack_offsets_scalable(
    docs: DataFrame, budget: int, num_partitions: int | None = None
) -> DataFrame:
    """Two-pass distributed prefix sum — the per-stratum running offset
    without any per-stratum single reducer, over ``token_counts``'
    (doc_id, lang, n_tok): the stratum is ``lang``.

    Pass 1: ``repartitionByRange(stratum, id)`` makes partition order
    agree with the global (stratum, id) order, so a stratum's prefix at
    a partition boundary is the sum of its subtotals in lower-numbered
    partitions. The (partition × stratum) subtotal table is collected —
    bounded by partition COUNT × stratum count, never by rows (the same
    bounded-driver-state argument as the CC union-find threshold).

    Pass 2: the cumulated base offsets broadcast-join back, and the
    running sum runs in a window partitioned by (partition id, stratum)
    — every window partition is at most one range partition wide, so
    the sort parallelizes across the cluster.

    The frame is localCheckpoint-pinned between passes: partition ids
    must be OBSERVED once, not re-derived per branch (Spark re-executes
    lineage per action; a re-executed range exchange could legally place
    boundary ties differently).
    """
    n = num_partitions or docs.sparkSession.sparkContext.defaultParallelism
    d = (
        docs.repartitionByRange(n, "lang", "doc_id")
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    subtot = (
        d.groupBy("_pid", "lang")
        .agg(F.sum("n_tok").alias("_sub"))
        .collect()
    )
    base: dict[tuple, int] = {}
    run: dict = {}
    # NULL strata sort first (matching range-partition NULLS FIRST);
    # Python can't compare None to str, so key on (is-not-null, value).
    for row in sorted(
        subtot,
        key=lambda r: (r["lang"] is not None, r["lang"], r["_pid"]),
    ):
        s = row["lang"]
        base[(row["_pid"], s)] = run.get(s, 0)
        run[s] = run.get(s, 0) + row["_sub"]
    # The stratum field keeps the INPUT's type (a hardcoded string type
    # broke non-string strata), and the join is null-safe so the NULL
    # stratum survives as its own stratum, as in a window partitioned
    # by the stratum. A pyarrow table plans as a JVM-local LocalTableScan:
    # no Python worker scans it.
    schema = pa.schema([
        ("_bpid", pa.int32()),
        ("_bstr", to_arrow_type(docs.schema["lang"].dataType)),
        ("_base", pa.int64()),
    ])
    rows = [{"_bpid": p, "_bstr": s, "_base": o} for (p, s), o in base.items()]
    base_df = F.broadcast(
        docs.sparkSession.createDataFrame(pa.Table.from_pylist(rows, schema=schema))
    )
    w = (
        Window.partitionBy("_pid", "lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        d.join(
            base_df,
            (F.col("_pid") == F.col("_bpid"))
            & F.col("lang").eqNullSafe(F.col("_bstr")),
        )
        .withColumn(
            "off",
            F.coalesce(F.sum("n_tok").over(w), F.lit(0)) + F.col("_base"),
        )
        .select(
            "doc_id",
            "lang",
            "n_tok",
            F.floor(F.col("off") / budget).alias("seq_no"),
            (F.col("off") % budget).cast("long").alias("seq_off"),
        )
    )
