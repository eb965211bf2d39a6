"""Hot-key diagnostics for the conv_id-partitioned stages.

The reference has no skew handling (hot tables just run longer —
SURVEY.md §4). At 10^10 events the merge must not let one giant
conversation pin a single task. Key-grouped stages (LWW, merge) need no
salting because the agg-based LWW gets map-side partial combine (see
operators/dedup.py) and the merge groups on the finer (conv_id,
turn_idx) key; AQE skew-join splitting covers the residual.
``hot_keys`` reports conversation sizes (top-k by event count) to
confirm that on a given log.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def hot_keys(df: DataFrame, key_col: str = "conv_id", top_n: int = 100) -> DataFrame:
    """Top-N keys by event count (diagnostic for skew decisions)."""
    return (
        df.groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy(F.col("n_events").desc(), F.col(key_col))
        .limit(top_n)
    )
