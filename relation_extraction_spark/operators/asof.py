"""J9 — as-of / latest-snapshot selection (SURVEY.md §2.3 J9).

"Latest crawl per url before extraction" expressed as a ranking window
rather than a self-join: one shuffle on the partition key, deterministic
tiebreak, no join explosion. Used by the ingest stage to dedup recrawled
urls (sources/corpus.py dup_frac knob) and exposed as the oracle-checked
``join_asof_latest`` query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def latest_per_key(
    df: DataFrame,
    keys: list[str],
    ts_col: str,
    tiebreak: str | None = None,
) -> DataFrame:
    order = [F.desc(ts_col)]
    if tiebreak is not None:
        order.append(F.desc(tiebreak))
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
